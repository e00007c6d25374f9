package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter constant that generated code reads from the `references`
  * array instead of spelling out in its source. Spark writes numeric, date
  * and timestamp literals into the Java source, so `cust < 137` and
  * `cust < 138` compile two classes; with the value bound, both share one
  * source and one cached class. Evaluates, types and renders exactly like
  * the literal it replaces. */
case class BoundConstant(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("constant", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "constant",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Binds the non-null numeric, date and timestamp literals that are
  * operands of a comparison or an IN list in each `FilterExec` condition.
  * It runs before whole-stage codegen on every physical plan, AQE stages,
  * subqueries and streaming batches included. Scan nodes keep their
  * literals, so partition pruning and Parquet pushdown see them as before. */
object BindConstants extends ColumnarRule {
  private val bindable: Set[DataType] = Set(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType)

  private def bind(e: Expression): Expression = e match {
    case l: Literal if l.value != null && bindable(l.dataType) => BoundConstant(l)
    case other => other
  }

  override val preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec =>
        f.copy(condition = f.condition.transformUp {
          case c @ (_: BinaryComparison | _: In) => c.mapChildren(bind)
        })
    }
  }
}
