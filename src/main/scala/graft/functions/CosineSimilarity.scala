package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused cosine similarity over two `array<double>` columns as a native
  * Catalyst expression with whole-stage codegen (SURVEY.md §7.3 "custom
  * Catalyst: fused cosine-similarity Expression").
  *
  * Why not the higher-order-function composition (`aggregate(zip_with(...))`
  * in [[graft.ext.Similarity.cosine]])? That builds an intermediate product
  * array per row-pair and walks the vectors three times (dot, |a|², |b|²).
  * This expression makes one pass, no allocation — the difference between
  * memory-bandwidth-bound and allocation-bound when scoring millions of
  * candidate pairs per executor.
  *
  * Accumulation order (left-to-right dot, then `dot/(√na·√nb)`) matches the
  * HOF version exactly, so both produce bit-identical doubles and share one
  * DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: vector length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = $a.numElements();
         |if (n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: vector length mismatch (" + n + " vs " + $b.numElements() + ")");
         |}
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = $a.getDouble(i);
         |  double yi = $b.getDouble(i);
         |  dot += xi * yi; na += xi * xi; nb += yi * yi;
         |}
         |${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column form: `cosine_sim(a, b)` with no function-registry entry. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Register `cosine_sim(a, b)` in the session's function registry so it is
    * usable from SQL and `expr(...)`. Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
}
