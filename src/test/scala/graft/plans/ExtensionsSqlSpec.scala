package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** The declarative install path: a session built with GraftExtensions must
  * resolve graft's SQL functions through the parser/analyzer with no
  * imperative registration (r5 advice: SqlSurface uses the register
  * helpers, so a break in the injectFunction path — ExpressionInfo
  * metadata, the bottom_k literal-arity check, the reflective no-arg
  * construction `spark.sql.extensions` relies on — went unexercised). */
class ExtensionsSqlSpec extends AnyFunSuite {

  /** `spark.sql.extensions=graft.plans.GraftExtensions` loads the class by
    * name and calls a public no-arg constructor; pin that contract. */
  test("config-style instantiation: no-arg construction by class name") {
    val inst = Class.forName("graft.plans.GraftExtensions")
      .getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    inst(new SparkSessionExtensions) // registrations apply without throwing
  }

  /** Run `f` on a session whose ONLY access to graft functions is the
    * extensions hook (fresh function registry, shared SparkContext). The
    * shared test session is restored as default/active afterwards. */
  private def withExtensionSession[T](f: SparkSession => T): T =
    graft.TestSpark.withFreshSession(_.withExtensions(new GraftExtensions()))(f)

  test("ensureRegistered skips rules a GraftExtensions session already has") {
    // ADVICE r11: on an extensions-built session the rules live in the
    // optimizer's own batches; appending them to extraOptimizations again
    // ran each (idempotent) rewrite twice per optimization pass. The
    // imperative path must detect both registries — and stay idempotent
    // itself on a plain session.
    withExtensionSession { s =>
      AsOfJoin.ensureRegistered(s)
      assert(s.experimental.extraOptimizations.isEmpty,
        s"extensions session got duplicate appends: " +
          s"${s.experimental.extraOptimizations.map(_.ruleName)}")
    }
    val plain = graft.TestSpark.spark
    val before = plain.experimental.extraOptimizations
    AsOfJoin.ensureRegistered(plain)
    val after = plain.experimental.extraOptimizations
    assert(after.count(_ eq PushFilterThroughAsOfJoin) == 1)
    assert(after.count(_ eq RewritePercentileToApprox) == 1)
    AsOfJoin.ensureRegistered(plain) // second call: no growth
    assert(plain.experimental.extraOptimizations.size == after.size)
    assert(before.forall(r => after.exists(_ eq r)), "existing rules kept")
  }

  test("extension session resolves cosine_sim through spark.sql") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT round(cosine_sim(array(3.0D, 4.0D), array(4.0D, 3.0D)), 6) AS c,
          |       round(cosine_sim(array(1.0D, 0.0D), array(0.0D, 2.0D)), 6) AS z
          |""".stripMargin).head()
      assert(r.getDouble(0) == 0.96) // (12+12)/(5*5)
      assert(r.getDouble(1) == 0.0) // orthogonal
    }
  }

  test("extension session resolves bottom_k aggregate through spark.sql") {
    withExtensionSession { s =>
      val got = s.sql(
        """SELECT bottom_k(md5(cast(id AS string)), 4) AS kmv
          |FROM range(100)""".stripMargin).head().getString(0)
      val exp = (0 until 100).map(i => graft.TestSpark.spark
        .sql(s"SELECT md5('$i')").head().getString(0)).sorted.take(4)
      assert(got == exp.mkString(","))
    }
  }

  test("approx-distinct rewrite: flag-gated, conservative, close enough") {
    withExtensionSession { s =>
      def distinctUsers = {
        import org.apache.spark.sql.functions._
        graft.Tables.events(s, graft.TestSpark.Sf0001)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("u"),
            countDistinct(col("user_id"), col("event_id")).as("multi"))
      }
      // flag off (default): exact plan, exact answer
      val exactPlan = distinctUsers.queryExecution.optimizedPlan.toString
      assert(!exactPlan.contains("approx_count_distinct"), exactPlan)
      val exact = distinctUsers.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      s.conf.set(RewriteCountDistinctToSketch.FlagKey, "true")
      try {
        val plan = distinctUsers.queryExecution.optimizedPlan.toString
        // single-column distinct rewritten; multi-column kept exact
        assert(plan.contains("approx_count_distinct"), plan)
        assert(plan.contains("count(distinct user_id#") ||
          "count\\(distinct [^)]*event_id".r.findFirstIn(plan).isDefined,
          s"multi-column distinct must stay exact:\n$plan")
        distinctUsers.collect().foreach { r =>
          val (u, multi) = exact(r.getString(0))
          assert(r.getLong(2) == multi, "exact arm changed")
          val est = r.getLong(1)
          assert(math.abs(est - u) <= math.max(2L, (u * 0.1).toLong),
            s"estimate $est vs exact $u for ${r.getString(0)}")
        }
      } finally s.conf.set(RewriteCountDistinctToSketch.FlagKey, "false")
    }
  }

  test("approx-percentile rewrite: flag-gated, conservative, close enough") {
    withExtensionSession { s =>
      import org.apache.spark.sql.functions._
      def q = graft.Tables.events(s, graft.TestSpark.Sf0001)
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.9)").as("p90"), // DOUBLE → eligible
          expr("percentile(user_id, 0.9)").as("p90_int"), // int-typed: exact
          // DESC percentile resolves to Percentile(reverse=true); approx
          // has no reverse arm, must stay exact (= ASC p10, checked below)
          expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value DESC)")
            .as("p90_desc"),
          expr("percentile(value, 0.1)").as("p10"),
          // Median is RuntimeReplaceable: the optimizer's Finish-Analysis
          // batch turns it into Percentile(x, 0.5) BEFORE either rule
          // registry runs, so the rewrite covers median() with no Median
          // arm (VERDICT r11 watch item 4(a) measured stale — directive #7)
          expr("median(value)").as("med"), // DOUBLE → eligible via replace
          expr("median(user_id)").as("med_int")) // int-typed: stays exact
      // flag off (default): exact plan, exact answers
      val exactPlan = q.queryExecution.optimizedPlan.toString
      assert(!exactPlan.contains("percentile_approx") &&
        !exactPlan.contains("approx_percentile"), exactPlan)
      val exact = q.collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
      s.conf.set(RewritePercentileToApprox.FlagKey, "true")
      try {
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("percentile_approx") ||
          plan.contains("approx_percentile"),
          s"eligible percentile not rewritten:\n$plan")
        // the integer-typed and reverse percentiles keep exact Percentile
        assert("percentile\\((user_id|cast)".r.findFirstIn(plan).isDefined,
          s"integer-typed percentile must stay exact:\n$plan")
        // the DOUBLE median was replaced + rewritten: p90/p10/med are three
        // approx sites, and no unreplaced median() survives in the plan
        assert(!plan.contains("median("),
          s"median must be replaced before the rewrite:\n$plan")
        assert("percentile_approx\\(value".r.findAllIn(plan).size >= 3,
          s"median(value) should be a third percentile_approx site:\n$plan")
        q.collect().foreach { r =>
          val (p90, p90Int, p90Desc, _, med, medInt) = exact(r.getString(0))
          assert(r.getDouble(2) == p90Int, "exact integer arm changed")
          assert(r.getDouble(3) == p90Desc, "reverse arm changed")
          assert(r.getDouble(6) == medInt, "exact integer median changed")
          // GK sketch at default accuracy: tight on 12k rows
          assert(math.abs(r.getDouble(1) - p90) <= math.max(0.05 * p90, 1.0),
            s"p90 estimate ${r.getDouble(1)} vs exact $p90")
          assert(math.abs(r.getDouble(5) - med) <=
            math.max(0.05 * math.abs(med), 1.0),
            s"median estimate ${r.getDouble(5)} vs exact $med")
        }
      } finally s.conf.set(RewritePercentileToApprox.FlagKey, "false")
    }
  }

  test("extension session resolves array_histogram through spark.sql") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT array_histogram(array('a', 'b', 'a', 'a')) AS h,
          |       array_histogram(split(cast(null AS string), ' ')) AS nh
          |""".stripMargin).head()
      assert(r.getMap[String, Long](0).toMap == Map("a" -> 3L, "b" -> 1L))
      assert(r.isNullAt(1))
      // SQL equality on float keys: -0.0 groups with 0.0, NaN with NaN —
      // java.lang.Double.equals would split them into duplicate map keys
      val f = s.sql(
        """SELECT array_histogram(array(0.0D, -0.0D,
          |  coalesce(cast('NaN' AS double), 0.0D),
          |  coalesce(cast('NaN' AS double), 0.0D), 1.5D)) AS h""".stripMargin)
        .head()
      val m = f.getMap[Double, Long](0).toMap
      assert(m.size == 3, m.toString)
      assert(m(0.0) == 2L && m(1.5) == 1L)
      assert(m.exists { case (k, v) => k.isNaN && v == 2L }, m.toString)
    }
  }

  test("explode-count rewrite: flag-gated, conservative, identical results") {
    withExtensionSession { s =>
      import org.apache.spark.sql.functions._
      def heat = graft.Tables.load(s, graft.TestSpark.Sf0001, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      // flag off (default): stock explode + count plan
      val stockPlan = heat.queryExecution.optimizedPlan.toString
      assert(!stockPlan.contains("array_histogram"), stockPlan.take(2000))
      val exact = heat.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      s.conf.set(RewriteExplodeCountToHistogram.FlagKey, "true")
      try {
        val plan = heat.queryExecution.optimizedPlan.toString
        assert(plan.contains("array_histogram") &&
          plan.contains("inline(map_entries("), s"rewrite did not fire:\n$plan")
        val got = heat.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == exact, "histogram path changed the heat map")
        // conservatism: any second aggregate keeps the stock shape
        val multi = graft.Tables.load(s, graft.TestSpark.Sf0001, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))
        assert(!multi.queryExecution.optimizedPlan.toString
          .contains("array_histogram"),
          "multi-aggregate explode must stay exact/stock")
        // count(NULL) is 0 per group, never the occurrence sum — must not
        // be rewritten
        val cntNull = graft.Tables.load(s, graft.TestSpark.Sf0001, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(null)).as("n"))
        assert(!cntNull.queryExecution.optimizedPlan.toString
          .contains("array_histogram"), "count(NULL) must stay stock")
        assert(cntNull.limit(5).collect().forall(_.getLong(1) == 0L))
      } finally s.conf.set(RewriteExplodeCountToHistogram.FlagKey, "false")
    }
  }

  test("extension session binds filter constants: no new class per constant") {
    withExtensionSession { s =>
      s.range(1000).selectExpr("CAST(id AS INT) AS v")
        .createOrReplaceTempView("ext_bind")
      def count(k: Int) =
        s.sql(s"SELECT count(*) AS n FROM ext_bind WHERE v < $k").head().getLong(0)
      val compiles =
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      assert(count(137) == 137)
      val before = compiles.getCount
      assert(count(138) == 138)
      assert(compiles.getCount == before,
        s"second statement compiled ${compiles.getCount - before} classes")
    }
  }

  test("bottom_k rejects a non-literal k with a clear error") {
    withExtensionSession { s =>
      val e = intercept[Exception] {
        s.sql("SELECT bottom_k(cast(id AS string), id + 1) FROM range(10)")
          .collect()
      }
      assert(e.getMessage.contains("bottom_k"), e.getMessage)
    }
  }
}
