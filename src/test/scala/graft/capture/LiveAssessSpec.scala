package graft.capture

import java.nio.file.Files

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's entire lifecycle re-enacted natively:
  * observe a real star-query workload through the live hook, persist the
  * log through the sink, then run the ASSESSMENT LAYER — template mining,
  * recurring-job detection, and the per-user workload report — on the
  * self-captured log, where QueryText is the real analyzed plan text, not
  * a synthetic render. */
class LiveAssessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import SparkCaptureListener.awaitReady

  test("star workload captured live, assessed from the captured log") {
    val t0 = new java.sql.Timestamp(System.currentTimeMillis() - 1000)
    val l = SparkCaptureListener.install(spark)
    val workload = Seq(
      "q1_pricing_summary", "q6_forecast_revenue", "q3_top_orders",
      "q5_nation_revenue", "q10_returned_revenue",
      // q1 and q6 run a SECOND time: a recurring series for the detector,
      // and a template-dedup case for the miner (fresh analysis = fresh
      // expression ids, so only canonicalized plan text collapses them)
      "q1_pricing_summary", "q6_forecast_revenue")
    try {
      workload.foreach(q =>
        graft.assess.StarQueries.queries(q)(spark, TestSpark.Sf0001).collect())
      // `seen` also counts unrelated bus traffic: drain until every
      // execution has delivered the COMPLETED event the log filter keeps
      def ready(evs: Seq[graft.model.QueryEvent]) =
        evs.count(e => e.EventType.contains("QUERY_COMPLETED") &&
          e.StartTime.exists(!_.before(t0)) &&
          e.TablesRead.exists(_.contains("lineitem"))) >= workload.size
      val events = l.drainUntil()(ready)
      assert(ready(events))
      val dir = Files.createTempDirectory("graft_live_assess_full").toString
      graft.sink.EventSink.writeBatch(spark.createDataFrame(events), dir)
      // this test's workload only: completed events started after t0 whose
      // plans scan lineitem (all five star queries do)
      val captured = graft.sink.EventSink.readLatestEvents(spark, dir)
        .filter(col("StartTime") >= lit(t0) &&
          col("TablesRead").cast("string").contains("lineitem"))
      val log = graft.assess.Migration.liveQueryLog(captured).cache()
      try {
        assert(log.count() == workload.size, "one log row per execution")

        // --- template mining on real plan text ---
        val tpl = graft.assess.Migration.templateMiningOver(log).collect()
        // 5 distinct statements; the 2 reruns must collapse into their
        // template (expression-id canonicalization), never inflate it
        assert(tpl.length == 5, tpl.map(_.getAs[String]("template").take(60))
          .mkString("; "))
        assert(tpl.map(_.getAs[Long]("n_queries")).sum == workload.size.toLong)
        assert(tpl.count(_.getAs[Long]("n_queries") == 2L) == 2,
          "exactly the two rerun statements have n_queries = 2")

        // --- recurring-run detection keyed by template fingerprint ---
        val runs = log
          .withColumn("tpl",
            md5(regexp_replace(col("query_text"), "= [0-9]+", "= ?")))
          .select(col("user").as("user_id"), col("tpl").as("event_type"),
            col("sub_us"))
        val rec = graft.assess.Migration.recurringJobsOver(runs).collect()
        // only the rerun templates form a series (n_runs = 2); reruns are
        // seconds apart so the modal gap is 0 minutes
        assert(rec.length == 2, rec.mkString("; "))
        assert(rec.forall(_.getAs[Long]("n_runs") == 2L))
        assert(rec.forall(_.getAs[Long]("modal_gap_min") == 0L))

        // --- per-user workload report ---
        val rep = graft.assess.Migration.liveWorkloadReport(log).collect()
        assert(rep.length == 1, "one submitting user in this JVM")
        val r = rep.head
        assert(r.getAs[Long]("n_queries") == workload.size.toLong)
        assert(r.getAs[Double]("fail_rate") == 0.0)
        assert(r.getAs[Long]("n_templates") == 5L)
        assert(r.getAs[String]("top_kind") == "QUERY")
        assert(r.getAs[Double]("p50_ms") >= 0.0 &&
          r.getAs[Double]("p95_ms") >= r.getAs[Double]("p50_ms"))

        // --- readiness scorecard on the captured log ---
        val sc = graft.assess.Migration.liveReadinessScorecard(log).collect()
        assert(sc.length == 1, sc.mkString("; "))
        val row = sc.head
        assert(row.getAs[Long]("n_queries") == workload.size.toLong)
        // translation effort = template compression: 5 distinct canonical
        // statements → medium bucket, score 1, self-serve "ready"
        assert(row.getAs[Long]("tot_weight") == 5L)
        assert(row.getAs[String]("effort") == "medium")
        // 2-run series have a single gap (< 3) — below the scheduled bar
        assert(row.getAs[Long]("n_sched") == 0L)
        assert(row.getAs[Double]("fail_ratio") == 0.0)
        assert(row.getAs[Long]("score") == 1L)
        assert(row.getAs[String]("readiness") == "ready")

        // --- latency drift on the captured log ---
        val drift = graft.assess.Migration.liveLatencyDrift(log).collect()
        assert(drift.length == 1, drift.mkString("; "))
        val d = drift.head
        assert(d.getAs[String]("event_type") == "QUERY")
        assert(d.getAs[Long]("n_a") + d.getAs[Long]("n_b") ==
          workload.size.toLong)
        // the window midpoint split puts min() in half A and max() in
        // half B, so the one kind spans both halves: steady, never
        // appeared/vanished
        assert(d.getAs[String]("status") == "steady")
      } finally { log.unpersist(); () }
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("scorecard over a log written by two concurrent drainers (stretch r11 #8)") {
    // Two full capture pipelines drain the SAME workload into ONE parquet
    // log tree (the multi-tenant shape; each drainer is a "host"). The
    // assessment contract: readLatestEvents' (QueryId, EventType) dedupe
    // collapses the per-writer copies, so per-user attribution — query
    // counts, templates, readiness score — is identical to a single-
    // writer capture; interleaved multi-writer capture must never double
    // a user's workload.
    val tag = s"ma_${java.util.UUID.randomUUID().toString.take(8)}"
    val t0 = new java.sql.Timestamp(System.currentTimeMillis() - 1000)
    val dir = Files.createTempDirectory("graft_live_multi").toString
    val dA = new CaptureDrainer(spark, dir, intervalMs = 200L)
    val dB = new CaptureDrainer(spark, dir, intervalMs = 200L)
    val n = 4
    def mine = graft.sink.EventSink.readAsEvents(spark, dir)
      .filter(col("StartTime") >= lit(t0) &&
        col("QueryText").contains(tag))
    // the awaitReady polls embed the tag literal in their own plan text
    // and would be captured as part of the workload (the cap_live_fail
    // lesson); run them under the production self-tag so both listeners
    // suppress them and the raw-row arithmetic below stays exact
    def selfTagged[T](body: => T): T = {
      val sc = spark.sparkContext
      sc.addJobTag(SparkCaptureListener.SelfTag)
      try body finally sc.removeJobTag(SparkCaptureListener.SelfTag)
    }
    try {
      (1 to n).foreach(i =>
        spark.range(30 + i).selectExpr(s"sum(id) AS ${tag}_q$i").collect())
      assert(awaitReady()(selfTagged(scala.util.Try(
        mine.filter(col("EventType") === "QUERY_COMPLETED").count() >= 2L * n
      ).getOrElse(false))))
    } finally { dA.close(); dB.close() }
    // the raw tree really is multi-writer: two copies of each lifecycle
    // event (one per drainer), collapsed exactly-once by the read path
    val raw = mine
    assert(raw.count() == 4L * n, // n queries x 2 events x 2 writers
      s"raw multi-writer log rows: ${raw.count()}")
    val captured = graft.sink.EventSink.readLatestEvents(spark, dir)
      .filter(col("StartTime") >= lit(t0) && col("QueryText").contains(tag))
    assert(captured.count() == 2L * n, "dedupe left one row per event")
    val log = graft.assess.Migration.liveQueryLog(captured)
    assert(log.count() == n.toLong, "one log row per execution")
    val sc = graft.assess.Migration.liveReadinessScorecard(log).collect()
    assert(sc.length == 1, "one submitting user in this JVM")
    val row = sc.head
    assert(row.getAs[Long]("n_queries") == n.toLong,
      s"multi-writer capture doubled the user's workload: $row")
    assert(row.getAs[Double]("fail_ratio") == 0.0)
    assert(row.getAs[String]("user_id") != null)
  }
}
