package graft.plans

import java.time.{Instant, LocalDate}

import graft.TestSpark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Filter constants are bound, not compiled in: statements that differ
  * only in a constant reuse one generated class, return what the literal
  * would, and leave the scan's pruning and pushdown alone. */
class BindConstantsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  /** 1000 rows, partitioned by `p`, with NULLs, NaN, ±0.0 and ±Infinity. */
  private lazy val dir = TestSpark.scratch.resolve("bind_constants").toString
  private lazy val table: String = {
    spark.sql(
      """SELECT id,
        |  CAST(id % 100 - 50 AS TINYINT) AS b,
        |  CAST(id % 1000 - 500 AS SMALLINT) AS s,
        |  CASE WHEN id % 17 = 0 THEN NULL ELSE CAST(id - 500 AS INT) END AS i,
        |  id * 1000000007L AS l,
        |  CASE WHEN id % 10 = 0 THEN CAST('NaN' AS FLOAT)
        |       ELSE CAST((id % 41) / 8.0D - 2 AS FLOAT) END AS f,
        |  CASE id % 10 WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN -0.0D
        |    WHEN 2 THEN 0.0D WHEN 3 THEN CAST('Infinity' AS DOUBLE)
        |    WHEN 4 THEN CAST('-Infinity' AS DOUBLE) WHEN 5 THEN NULL
        |    ELSE (id % 97) / 4.0D - 10 END AS d,
        |  date_add(DATE '2024-01-01', CAST(id % 400 AS INT)) AS dt,
        |  timestamp_micros(1700000000000000L + id * 3600000000L) AS ts,
        |  CAST(id % 4 AS INT) AS p
        |FROM range(0, 1000)""".stripMargin)
      .write.partitionBy("p").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("bind_t")
    "bind_t"
  }

  private case class M(id: Long, b: Byte, s: Short, i: Option[Int], l: Long,
                       f: Float, d: Option[Double], dt: LocalDate,
                       ts: Instant, p: Int)

  /** The table as read with no filter: the Scala side of every check. */
  private lazy val model: Seq[M] = spark.table(table).collect().toSeq.map { r =>
    M(r.getAs[Long]("id"), r.getAs[Byte]("b"), r.getAs[Short]("s"),
      Option(r.getAs[Integer]("i")).map(_.intValue), r.getAs[Long]("l"),
      r.getAs[Float]("f"),
      Option(r.getAs[java.lang.Double]("d")).map(_.doubleValue),
      r.getAs[java.sql.Date]("dt").toLocalDate,
      r.getAs[java.sql.Timestamp]("ts").toInstant, r.getAs[Int]("p"))
  }

  /** SQL's double order: NaN equals NaN and sorts above +Infinity, and
    * -0.0 equals 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a.isNaN) { if (b.isNaN) 0 else 1 }
    else if (b.isNaN) -1 else if (a < b) -1 else if (a > b) 1 else 0

  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity
  private def day(s: String) = LocalDate.parse(s)
  private def at(s: String) = Instant.parse(s)

  /** (condition, the same condition in Scala, whether a constant is bound) */
  private val cases: Seq[(String, M => Boolean, Boolean)] = Seq(
    ("i < 137", _.i.exists(_ < 137), true),
    ("i < NULL", _ => false, false),
    ("i <=> 42", _.i.contains(42), true),
    ("l >= 500000003500L", _.l >= 500000003500L, true),
    ("d < 0.0D", _.d.exists(cmp(_, 0.0) < 0), true),
    ("d = -0.0D", _.d.exists(cmp(_, -0.0) == 0), true),
    ("d <= -0.0D", _.d.exists(cmp(_, -0.0) <= 0), true),
    ("d > 1.0E300D", _.d.exists(cmp(_, 1.0e300) > 0), true),
    ("d = CAST('NaN' AS DOUBLE)", _.d.exists(cmp(_, NaN) == 0), true),
    ("d < CAST('NaN' AS DOUBLE)", _.d.exists(cmp(_, NaN) < 0), true),
    ("d < CAST('Infinity' AS DOUBLE)", _.d.exists(cmp(_, Inf) < 0), true),
    ("d > CAST('-Infinity' AS DOUBLE)", _.d.exists(cmp(_, -Inf) > 0), true),
    ("d <=> CAST('-Infinity' AS DOUBLE)", _.d.exists(cmp(_, -Inf) == 0), true),
    ("i IN (1, 5, 9, 200, -7)", _.i.exists(Set(1, 5, 9, 200, -7)), true),
    (s"i IN (${(-7 until 13).mkString(", ")})",
      _.i.exists(v => v >= -7 && v < 13), false), // an InSet: no literals
    ("d IN (-0.0D, CAST('NaN' AS DOUBLE), 2.5D, CAST('Infinity' AS DOUBLE))",
      m => m.d.exists(v => Seq(-0.0, NaN, 2.5, Inf).exists(cmp(v, _) == 0)), true),
    ("s > CAST(100 AS SMALLINT)", _.s > 100, true),
    ("s >= 250", _.s >= 250, true),
    ("b <= CAST(-3 AS TINYINT)", _.b <= -3, true),
    ("b = -50", _.b == -50, true),
    ("f < CAST(1.25 AS FLOAT)", m => cmp(m.f.toDouble, 1.25) < 0, true),
    ("f = CAST('NaN' AS FLOAT)", _.f.isNaN, true),
    ("dt >= DATE '2024-06-01' AND dt < DATE '2024-09-01'",
      m => !m.dt.isBefore(day("2024-06-01")) && m.dt.isBefore(day("2024-09-01")),
      true),
    ("dt = DATE '2024-02-29'", _.dt == day("2024-02-29"), true),
    ("ts > TIMESTAMP '2023-12-01 00:00:00'",
      _.ts.isAfter(at("2023-12-01T00:00:00Z")), true),
    ("ts <= TIMESTAMP '2023-11-20 12:00:00' AND p = 1",
      m => !m.ts.isAfter(at("2023-11-20T12:00:00Z")) && m.p == 1, true))

  private def bound(plan: SparkPlan): Boolean = collect(plan) {
    case f: FilterExec => f.condition.exists(_.isInstanceOf[BoundConstant])
  }.contains(true)

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("statements that differ only in a constant compile no new class") {
    def stmt(k: Int) = spark.sql(
      s"""SELECT count(*) AS n, sum(i) AS si FROM $table
         |WHERE i < ${100 + k} AND l >= ${k}L AND d <= $k.5D
         |  AND dt > DATE '2024-01-${"%02d".format(k + 1)}'
         |  AND ts < TIMESTAMP '2023-12-${10 + k} 00:00:00'""".stripMargin)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    assert(stmt(0).head().getLong(0) > 0)
    val before = compiles.getCount
    val counts = (1 until 20).map(k => stmt(k).head().getLong(0))
    val added = compiles.getCount - before
    assert(counts.forall(_ > 0), counts)
    assert(added == 0, s"19 statements after the first compiled $added classes")
  }

  test("bound constants return what the literals return") {
    val rows = model
    assert(rows.size == 1000)
    assert(rows.exists(_.d.exists(v => java.lang.Double.doubleToRawLongBits(v) ==
      java.lang.Double.doubleToRawLongBits(-0.0))), "no -0.0 in the data")
    // the same rows with no file scan under the filter, so the filter
    // alone decides and the Scala predicate is the oracle
    spark.table(table).localCheckpoint().createOrReplaceTempView("bind_m")
    // a session of the same context without the rule: the literal's answer
    val literal = TestSpark.withFreshSession(identity) { plain =>
      plain.read.parquet(dir).createOrReplaceTempView("bind_t")
      assert(!bound(plain.sql("SELECT id FROM bind_t WHERE i < 137")
        .queryExecution.executedPlan), "the plain session binds constants")
      cases.map { case (cond, _, _) =>
        ids(plain.sql(s"SELECT id FROM bind_t WHERE $cond")) }
    }
    // generated code, then the interpreted path behind the same rule
    Seq(Seq.empty[(String, String)],
        Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { conf =>
      withConf(conf: _*) {
        cases.zip(literal).foreach { case ((cond, pred, binds), lit) =>
          val df = spark.sql(s"SELECT id FROM $table WHERE $cond")
          assert(ids(df) == lit, s"$cond ($conf): parquet, bound vs literal")
          assert(bound(df.queryExecution.executedPlan) == binds,
            s"$cond: bound constant expected $binds\n${df.queryExecution.executedPlan}")
          val mem = spark.sql(s"SELECT id FROM bind_m WHERE $cond")
          assert(ids(mem) == rows.filter(pred).map(_.id).sorted,
            s"$cond ($conf): checkpointed rows vs Scala")
          assert(bound(mem.queryExecution.executedPlan) == binds, cond)
        }
      }
    }
  }

  test("scans keep their literals: pushdown and partition pruning") {
    val df = spark.sql(s"SELECT id, i FROM $table WHERE i < 137 AND p = 2")
    assert(ids(df) == model.filter(m => m.i.exists(_ < 137) && m.p == 2).map(_.id).sorted)
    val plan = df.queryExecution.executedPlan
    assert(bound(plan), plan.toString)
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("LessThan(i,137)"),
      scan.metadata.toString)
    val scanExprs = scan.partitionFilters ++ scan.dataFilters
    assert(scanExprs.exists(_.exists(_ == Literal(2))), scanExprs)
    assert(!scanExprs.exists(_.exists(_.isInstanceOf[BoundConstant])), scanExprs)
    assert(scan.metrics("numPartitions").value == 1,
      s"partition filter read ${scan.metrics("numPartitions").value} partitions")
    // the plan renders the constant as the literal did
    assert(df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).contains("< 137)"))
  }
}
