package graft.capture

import java.nio.file.Files

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Spark-side capture hook (reference entry-point analog): every SQL
  * execution becomes the reference's two-event SUBMITTED/COMPLETED
  * lifecycle; bounded admission; real write targets; plan-derived query
  * type; planning-phase perf; sink round trip; self-draining daemon. */
class SparkCaptureListenerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Listener-bus delivery is asynchronous: await a condition instead of
  // asserting on a race.
  import SparkCaptureListener.awaitReady

  private def nonce(prefix: String) =
    s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("each execution yields a SUBMITTED + COMPLETED pair sharing a QueryId") {
    val tag = nonce("lifetag")
    val l = SparkCaptureListener.install(spark)
    try {
      spark.range(100).selectExpr(s"sum(id) AS $tag").collect()
      intercept[Throwable] {
        spark.range(10).selectExpr(s"raise_error('boom_$tag')").collect()
      }
      assert(awaitReady(20000L)(l.seen >= 4))
      val events = l.drain().filter(_.QueryText.exists(_.contains(tag)))
      val subs = events.filter(_.EventType.contains("QUERY_SUBMITTED"))
      val dones = events.filter(_.EventType.contains("QUERY_COMPLETED"))
      assert(subs.size == 2 && dones.size == 2,
        events.map(e => (e.EventType, e.QueryText.map(_.take(60)))).toString)
      // pairing: every completed id has a submitted twin
      val subIds = subs.flatMap(_.QueryId).toSet
      assert(dones.forall(_.QueryId.exists(subIds.contains)))
      val ok = dones.find(_.Status.contains("SUCCESS")).get
      val ko = dones.find(_.Status.contains("FAIL")).get
      assert(ok.ExecutionMode.contains("SPARK") && ok.ExecutionEngine.contains("spark"))
      assert(ok.QueryId.exists(_.startsWith(spark.sparkContext.applicationId)))
      assert(ok.RequestUser.exists(_.nonEmpty))
      assert(!ok.EndTime.get.before(ok.StartTime.get), "duration must be >= 0")
      assert(ok.CountersObject.exists(_.contains("\"durationMs\"")))
      assert(ko.ErrorMessage.exists(_.contains("boom")))
      // submitted events carry start time but no completion-side fields
      assert(subs.forall(e => e.StartTime.nonEmpty && e.EndTime.isEmpty
        && e.Status.isEmpty))
      assert(l.buildFailed == 0, s"buildFailed=${l.buildFailed}")
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("a bound filter constant reads as the literal in the QueryText") {
    // template mining keys on this text: the constant must read as typed
    val tag = nonce("bindtag")
    val dir = TestSpark.scratch.resolve(tag).toString
    spark.range(300).selectExpr("CAST(id AS INT) AS cust").write.parquet(dir)
    val l = SparkCaptureListener.install(spark)
    try {
      val df = spark.read.parquet(dir).where(col("cust") < 137)
        .select(col("cust").as(tag))
      assert(df.collect().length == 137)
      assert(df.queryExecution.executedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.plans.BoundConstant]))),
        df.queryExecution.executedPlan.toString)
      def subsOf(evs: Seq[graft.model.QueryEvent]) = evs.filter(e =>
        e.EventType.contains("QUERY_SUBMITTED") && e.QueryText.exists(_.contains(tag)))
      val subs = subsOf(l.drainUntil(20000L)(subsOf(_).nonEmpty))
      assert(subs.nonEmpty)
      assert(subs.size == 1 && subs.head.QueryText.exists(_.contains("< 137)")),
        subs.map(_.QueryText))
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("file-source reads surface as TablesRead; counters JSON parses") {
    val l = SparkCaptureListener.install(spark)
    try {
      graft.Tables.load(spark, TestSpark.Sf0001, "region").count()
      assert(awaitReady(20000L)(l.seen >= 2))
      val events = l.drain()
      val withRead = events.filter(_.TablesRead.nonEmpty)
      assert(withRead.nonEmpty, s"no TablesRead in ${events.map(_.TablesRead)}")
      assert(withRead.exists(_.TablesRead.exists(_.contains("region"))),
        withRead.map(_.TablesRead).toString)
      // counters must be valid JSON with a numeric durationMs
      import spark.implicits._
      val parsed = events.flatMap(_.CountersObject).toDF("c")
        .select(get_json_object(col("c"), "$.durationMs").cast("long").as("d"))
        .collect()
      assert(parsed.nonEmpty && parsed.forall(r => !r.isNullAt(0) && r.getLong(0) >= 0))
      // O16 parity: plan-wide executor metrics aggregated into the same
      // JSON — a parquet count must report the files it actually read
      // (walked through the AQE wrapper nodes, where TreeNode.foreach
      // can't see)
      val files = events.filter(_.EventType.contains("QUERY_COMPLETED"))
        .flatMap(_.CountersObject).toDF("c")
        .select(get_json_object(col("c"), "$.filesRead").cast("long").as("f"))
        .collect().flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(files.exists(_ >= 1), s"no filesRead counter in " +
        events.flatMap(_.CountersObject).toString)
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("query type is the plan's operation; writes record the real target") {
    val tag = nonce("qt")
    val outDir = Files.createTempDirectory(s"graft_${tag}_ins").toString
    val table = s"tbl_$tag"
    val l = SparkCaptureListener.install(spark)
    try {
      spark.range(10).selectExpr(s"id AS $tag").collect() // QUERY
      spark.range(10).selectExpr(s"id AS $tag")
        .write.mode("overwrite").parquet(outDir) // INSERT into a path
      spark.sql(s"CREATE TABLE $table (x INT) USING parquet") // CREATETABLE
      assert(awaitReady(20000L)(l.seen >= 6))
      val events = l.drain()
        .filter(_.EventType.contains("QUERY_COMPLETED"))
      val q = events.find(e => e.QueryText.exists(_.contains(tag))
        && e.TablesWritten.isEmpty).get
      assert(q.QueryType.contains("QUERY"), q.QueryType.toString)
      val ins = events.find(_.TablesWritten.exists(_.contains(outDir))).get
      assert(ins.QueryType.contains("INSERT"), ins.QueryType.toString)
      // the TARGET path, never the command's class name
      assert(ins.TablesWritten.forall(!_.contains("Command")),
        ins.TablesWritten.toString)
      val ct = events.find(_.TablesWritten.exists(_.contains(table))).get
      assert(ct.QueryType.contains("CREATETABLE"), ct.QueryType.toString)
      assert(ct.TablesWritten.exists(_.contains(s"default.$table")),
        ct.TablesWritten.toString)
    } finally {
      SparkCaptureListener.uninstall(spark, l)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("PerfObject carries the engine's planning phases (O15 shape)") {
    val tag = nonce("perf")
    val l = SparkCaptureListener.install(spark)
    try {
      spark.range(500).selectExpr(s"sum(id) AS $tag").collect()
      assert(awaitReady(20000L)(l.seen >= 2))
      val e = l.drain().find(ev => ev.QueryText.exists(_.contains(tag))
        && ev.EventType.contains("QUERY_COMPLETED")).get
      assert(e.PerfObject.nonEmpty, "PerfObject must be populated")
      import spark.implicits._
      val phases = Seq(e.PerfObject.get).toDF("p")
        .select(from_json(col("p"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")).as("m"))
        .select(explode(col("m"))).collect()
      assert(phases.nonEmpty)
      val names = phases.map(_.getString(0)).toSet
      assert(names.contains("planning") || names.contains("analysis"),
        names.toString)
      assert(phases.forall(_.getLong(1) >= 0L))
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("bounded admission drops-and-counts past capacity (O21)") {
    val l = SparkCaptureListener.install(spark, maxBuffered = 1)
    try {
      (1 to 4).foreach(i => spark.range(i * 10L).count())
      assert(awaitReady(20000L)(l.seen >= 8)) // 2 lifecycle events per query
      assert(l.drain().size <= 1, "cap must hold")
      assert(l.dropped >= 7, s"dropped=${l.dropped}")
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("capture -> sink -> read-back round trip in the QueryEvents schema") {
    val l = SparkCaptureListener.install(spark)
    try {
      spark.range(1000).groupBy(expr("id % 7")).count().collect()
      assert(awaitReady(20000L)(l.seen >= 2))
      import spark.implicits._
      val frame = spark.createDataset(l.drain()).toDF()
      val n = frame.count()
      assert(n >= 2)
      assert(frame.columns.length == 33, "full QueryEvents column set")
      val dir = Files.createTempDirectory("graft_hook").toString
      graft.sink.EventSink.writeBatch(frame, dir)
      val back = graft.sink.EventSink.readAsEvents(spark, dir)
      assert(back.count() == n)
      assert(back.filter(col("Status") === "SUCCESS").count() >= 1)
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("capture -> assess live loop: rollup over self-captured star queries") {
    // The reference's full lifecycle re-enacted natively:
    // observe the workload (three star queries run under the live hook),
    // persist the log through the sink, then run the assessment layer's
    // A2-style rollup ON THE CAPTURED LOG — observe Hive → assess, on Spark.
    val l = SparkCaptureListener.install(spark)
    try {
      Seq("q1_pricing_summary", "q6_forecast_revenue", "q3_top_orders")
        .foreach(q =>
          graft.assess.StarQueries.queries(q)(spark, TestSpark.Sf0001).collect())
      // `seen` also counts unrelated bus traffic: drain until each of the
      // three executions has delivered its lineitem COMPLETED event
      def ready(evs: Seq[graft.model.QueryEvent]) =
        evs.count(e => e.EventType.contains("QUERY_COMPLETED") &&
          e.TablesRead.exists(_.contains("lineitem"))) >= 3
      val events = l.drainUntil(20000L)(ready)
      assert(ready(events))
      val dir = Files.createTempDirectory("graft_live_assess").toString
      graft.sink.EventSink.writeBatch(spark.createDataFrame(events), dir)
      val log = graft.sink.EventSink.readLatestEvents(spark, dir)
        // the three workload queries all scan lineitem; other bus traffic
        // (earlier suites, metadata reads) is not part of the assessment
        .filter(col("EventType") === "QUERY_COMPLETED" &&
          col("TablesRead").cast("string").contains("lineitem"))
      val rollup = log
        .groupBy(col("RequestUser").as("user"), col("QueryType").as("qtype"),
          col("Status").as("status"))
        .agg(count(lit(1)).as("n"),
          avg(unix_millis(col("EndTime")) - unix_millis(col("StartTime")))
            .as("avg_ms"))
        .collect()
      assert(rollup.nonEmpty, "rollup over captured events must be non-trivial")
      val success = rollup.filter(_.getAs[String]("status") == "SUCCESS")
      assert(success.map(_.getAs[Long]("n")).sum >= 3,
        rollup.mkString("; "))
      assert(success.forall(_.getAs[String]("qtype") == "QUERY"))
      assert(success.forall(r => !r.isNullAt(r.fieldIndex("user"))))
      assert(success.forall(_.getAs[Double]("avg_ms") >= 0.0))
    } finally SparkCaptureListener.uninstall(spark, l)
  }

  test("self-draining hook flushes to the sink with no drain() call (O27)") {
    val tag = nonce("drainer")
    val sink = Files.createTempDirectory(s"graft_${tag}_sink").toString + "/log"
    val d = new CaptureDrainer(spark, sink, intervalMs = 150L)
    try {
      spark.range(50).selectExpr(s"sum(id) AS ${tag}_a").collect()
      // no explicit drain: the daemon must deliver it. Await on the
      // FILESYSTEM, not a spark read — a read here would itself be captured.
      assert(awaitReady(30000L)(d.flushed >= 1))
      // residue: a query captured after the last scheduled flush must be
      // flushed exactly once by close()
      spark.range(60).selectExpr(s"sum(id) AS ${tag}_b").collect()
      assert(awaitReady(20000L)(d.listener.seen >= 4))
    } finally d.close()
    d.close() // idempotent
    val log = graft.sink.EventSink.readAsEvents(spark, sink)
      .filter(col("QueryText").contains(tag)).cache()
    try {
      val byType = log.groupBy("EventType").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // both probes, both lifecycle sides, each exactly once
      assert(byType.get("QUERY_SUBMITTED").contains(2L), byType.toString)
      assert(byType.get("QUERY_COMPLETED").contains(2L), byType.toString)
      // the drainer's own sink writes must not have been captured
      val selfWrites = graft.sink.EventSink.readAsEvents(spark, sink)
        .filter(col("TablesWritten").cast("string").contains(sink) ||
          col("QueryText").contains(sink))
        .count()
      assert(selfWrites == 0, s"captured $selfWrites of its own sink writes")
    } finally { log.unpersist(); () }
  }

  test("close() flushes the events of an execution still queued on the bus") {
    // An execution can return to its caller while its End event is still
    // queued on the listener bus. A listener registered ahead of the
    // drainer's holds the End back, so the drainer only sees it after
    // close() has begun; the events must still reach the sink.
    val tag = nonce("late")
    val sink = Files.createTempDirectory(s"graft_${tag}_sink").toString + "/log"
    val held = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gate = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case en: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
            if Option(SqlEndShim.qe(en)).exists(_.analyzed.toString.contains(tag)) &&
              held.compareAndSet(false, true) =>
          Thread.sleep(1500)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(gate)
    // no scheduled flush before close(): close() alone must carry the events
    val d = new CaptureDrainer(spark, sink, intervalMs = 600000L)
    try spark.range(70).selectExpr(s"sum(id) AS $tag").collect()
    finally { d.close(); spark.sparkContext.removeSparkListener(gate) }
    assert(held.get, "the gate never held the End back")
    assert(d.listener.pending == 0, s"pending=${d.listener.pending}")
    val byType = graft.sink.EventSink.readAsEvents(spark, sink)
      .filter(col("QueryText").contains(tag))
      .groupBy("EventType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("QUERY_SUBMITTED" -> 1L, "QUERY_COMPLETED" -> 1L),
      byType.toString)
  }

  test("entity + provenance surface on a partitioned-table read+write probe") {
    // The live hook must fill all six entity arrays plus the
    // session/provenance fields, not just TablesRead/Written.
    val tag = nonce("ent")
    val table = s"tbl_$tag"
    val pool = s"pool_$tag"
    val l = SparkCaptureListener.install(spark)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    try {
      spark.sql(s"CREATE TABLE $table (x INT, day STRING) USING parquet PARTITIONED BY (day)")
      spark.sql(s"INSERT INTO $table PARTITION (day='2024-01-01') VALUES (1), (2)")
      spark.sql(s"INSERT INTO $table PARTITION (day='2024-01-02') VALUES (3)")
      spark.sql(s"SELECT sum(x) AS s_$tag FROM $table WHERE day = '2024-01-01'")
        .collect()
      assert(awaitReady(20000L)(l.seen >= 8)) // 4 statements × 2 lifecycle events
      // Drain until the last statement's COMPLETED is in: events of earlier
      // executions still queued on the shared bus reach a new listener
      // too, so 8 seen events can come before this test's last one.
      val events = l.drainUntil(20000L)(_.exists(e =>
        e.EventType.contains("QUERY_COMPLETED") &&
          e.QueryText.exists(_.contains(s"s_$tag"))))
      val inserts = events.filter(e =>
        e.EventType.contains("QUERY_COMPLETED") &&
          e.PartitionsWritten.exists(_.contains(table)))
      // write side: static partition specs as Hive-style complete names
      assert(inserts.size == 2, events.flatMap(_.PartitionsWritten).toString)
      assert(inserts.flatMap(_.PartitionsWritten).toSet ==
        Set(s"default@$table@day=2024-01-01", s"default@$table@day=2024-01-02"))
      assert(inserts.forall(_.DatabasesWritten == Seq("default")),
        inserts.map(_.DatabasesWritten).toString)
      assert(inserts.forall(_.TablesWritten.exists(_.endsWith(s"default.$table"))))
      // read side: only the PRUNED partition appears
      val read = events.find(e => e.EventType.contains("QUERY_COMPLETED") &&
        e.PartitionsRead.exists(_.contains(table))).get
      assert(read.PartitionsRead == Seq(s"default@$table@day=2024-01-01"),
        read.PartitionsRead.toString)
      assert(read.DatabasesRead == Seq("default"), read.DatabasesRead.toString)
      assert(read.TablesRead.exists(_.endsWith(s"default.$table")))
      // provenance: pool observed from the job, session id, default db,
      // engine version, driver address, hook version
      assert(read.Queue.contains(pool), read.Queue.toString)
      assert(read.SessionId.exists(_.nonEmpty))
      assert(read.DefaultDatabase.contains("default"))
      assert(read.HiveVersion.contains(org.apache.spark.SPARK_VERSION))
      assert(read.HiveAddress.nonEmpty && read.ClientIpAddress.nonEmpty)
      assert(read.HookVersion.contains("1.0"))
      // the SUBMITTED twin carries the read-side dbs + session surface too
      val sub = events.find(e => e.EventType.contains("QUERY_SUBMITTED") &&
        e.TablesRead.exists(_.endsWith(s"default.$table"))).get
      assert(sub.DatabasesRead == Seq("default"))
      assert(sub.SessionId.exists(_.nonEmpty) &&
        sub.DefaultDatabase.contains("default"))
    } finally {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      SparkCaptureListener.uninstall(spark, l)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("COMPLETED without its SUBMITTED keeps a sane StartTime (durNs fallback)") {
    // A saturated bus can DROP the Start event; the End
    // must still yield a whole record. Reproduce by recording a real End
    // and replaying it into a listener that never saw its Start.
    @volatile var endEvent: org.apache.spark.sql.execution.ui
      .SparkListenerSQLExecutionEnd = null
    val tag = nonce("fb")
    val recorder = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case en: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
            if endEvent == null &&
              Option(SqlEndShim.qe(en)).exists(
                _.analyzed.toString.contains(tag)) =>
          endEvent = en
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(recorder)
    val fresh = new SparkCaptureListener("app_fb", "tester")
    try {
      val t0 = System.currentTimeMillis()
      spark.range(5000).selectExpr(s"sum(id) AS $tag").collect()
      assert(awaitReady(20000L)(endEvent != null))
      fresh.onOtherEvent(endEvent) // the End arrives with no startMs entry
      val evs = fresh.drain()
      assert(evs.size == 1)
      val e = evs.head
      assert(e.EventType.contains("QUERY_COMPLETED"))
      val st = e.StartTime.get.getTime
      val en = e.EndTime.get.getTime
      assert(en >= st, "duration must be non-negative")
      assert(st >= t0 - 60000 && st <= en, s"StartTime $st outside [$t0, $en]")
      // the fallback is the ENGINE-measured duration, not a zero guess
      val durNs = SqlEndShim.durationNs(endEvent)
      if (durNs > 0) assert(st == en - durNs / 1000000L)
      // and the A1 lifecycle audit still sees it: no submit twin exists,
      // so the pairing's left-anti surfaces it as submit-less, while the
      // record itself is complete enough to aggregate
      import spark.implicits._
      val frame = spark.createDataset(evs).toDF()
      val subs = frame.filter(col("EventType") === "QUERY_SUBMITTED")
        .select(col("QueryId"))
      val orphans = frame.filter(col("EventType") === "QUERY_COMPLETED")
        .join(subs, Seq("QueryId"), "left_anti")
      assert(orphans.count() == 1)
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("requeue hands a failed batch back, bounded, without touching seen") {
    val l = new SparkCaptureListener("app", "tester", maxBuffered = 3)
    def ev(i: Int) = graft.model.QueryEvent(QueryId = Some(s"q$i"))
    l.requeue(Seq(ev(1), ev(2)))
    assert(l.drain().flatMap(_.QueryId) == Seq("q1", "q2"))
    assert(l.seen == 0 && l.dropped == 0, "requeue must not count as arrival")
    // overflow beyond the cap counts in dropped, never grows the buffer
    l.requeue((1 to 5).map(ev))
    assert(l.dropped == 2)
    assert(l.drain().size == 3)
  }

  test("execution state stays bounded when Ends never arrive; pool and start survive") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    val plan = new SparkPlanInfo("synthetic", "", Nil, Map.empty, Nil)
    def start(id: Long, at: Long) = SparkListenerSQLExecutionStart(
      id, None, "synthetic", "", "", plan, at, Map.empty, Set.empty, None)
    // maxBuffered = 1: the bound under test is the tracking state, not the
    // event buffer, so nearly every SUBMITTED event is dropped unbuilt
    val l = new SparkCaptureListener("app_bound", "tester", maxBuffered = 1)
    val cap = SparkCaptureListener.MaxTracked
    val t0 = 1700000000000L
    (0 until cap + cap / 2).foreach { i =>
      l.onOtherEvent(start(1000000L + i, t0 + i))
      assert(l.tracked <= cap, s"tracked ${l.tracked} after ${i + 1} Starts")
    }
    assert(l.tracked > 0)
    l.drain()
    // a normal lifecycle an hour later still pairs: Start, a job in a
    // pool, End (the orphaned Starts are stale by then, so a prune takes
    // them first)
    val t1 = t0 + 3600000L
    val id = 4200000042L
    val props = new java.util.Properties()
    props.setProperty("spark.sql.execution.id", id.toString)
    props.setProperty("spark.scheduler.pool", "pool_bound")
    l.onOtherEvent(start(id, t1))
    assert(l.drain().flatMap(_.EventType) == Seq("QUERY_SUBMITTED"))
    l.onJobStart(org.apache.spark.scheduler.SparkListenerJobStart(
      7, t1 + 100, Nil, props))
    l.onOtherEvent(SparkListenerSQLExecutionEnd(id, t1 + 900))
    val done = l.drain()
    assert(done.size == 1, done.toString)
    assert(done.head.EventType.contains("QUERY_COMPLETED"))
    assert(done.head.QueryId.contains("app_bound_4200000042"))
    assert(done.head.StartTime.contains(new java.sql.Timestamp(t1)))
    assert(done.head.EndTime.contains(new java.sql.Timestamp(t1 + 900)))
    assert(done.head.Queue.contains("pool_bound"))
    assert(done.head.Status.contains("SUCCESS"))
  }

  test("multi-day LIVE rollover: drainer feeds the Avro writer across midnight") {
    // The reference's date-partitioned rollover goldens, exercised through
    // the LIVE path — listener → drainer → DatePartitionedAvroWriter under
    // a tickable clock that crosses a UTC midnight between flushes.
    import java.time.{Clock, Duration, Instant, ZoneId, ZoneOffset}
    final class TickableClock(var now: Instant) extends Clock {
      override def getZone: ZoneId = ZoneOffset.UTC
      override def withZone(zone: ZoneId): Clock = this
      override def instant(): Instant = now
      def tick(d: Duration): Unit = now = now.plusNanos(d.toNanos)
    }
    val tag = nonce("roll")
    val base = Files.createTempDirectory(s"graft_${tag}").toFile
    val clock = new TickableClock(Instant.parse("2022-12-25T12:00:22.3344Z"))
    val writer = new graft.sink.DatePartitionedAvroWriter(
      base, graft.sink.AvroEventSink.avroSchema, clock, "livewr",
      Duration.ofMinutes(30))
    // While the drainer runs, the poll skips a file the writer has just
    // opened and not yet flushed; after close every file must decode.
    def recordsIn(day: String, live: Boolean = false): Seq[String] =
      graft.sink.AvroEventSink.readTree(base, live)
        .filter(_._1.getParentFile.getName == day).flatMap(_._2)
        .map(r => Option(r.get("QueryText")).map(_.toString).getOrElse(""))
    val d = new CaptureDrainer(spark, base.toString, intervalMs = 200L,
      sink = Some(writer.writeFrame))
    try {
      spark.range(40).selectExpr(s"sum(id) AS ${tag}_a").collect()
      assert(awaitReady()(
        recordsIn("2022-12-25", live = true).count(_.contains(s"${tag}_a")) >= 2))
      clock.tick(Duration.ofDays(1)) // cross UTC midnight between flushes
      spark.range(50).selectExpr(s"sum(id) AS ${tag}_b").collect()
      assert(awaitReady()(
        recordsIn("2022-12-26", live = true).count(_.contains(s"${tag}_b")) >= 2))
    } finally { d.close(); writer.close() }
    // reference layout on both sides of midnight: bare date dirs,
    // dwhassessment-prefixed clock-stamped file names
    def filesIn(day: String) =
      new java.io.File(base, day).listFiles().filter(_.getName.endsWith(".avro"))
    assert(filesIn("2022-12-25").forall(
      _.getName.startsWith("dwhassessment_2022-12-25T")))
    assert(filesIn("2022-12-26").forall(
      _.getName.startsWith("dwhassessment_2022-12-26T")))
    // no cross-day leakage of the probes
    assert(!recordsIn("2022-12-25").exists(_.contains(s"${tag}_b")))
    assert(!recordsIn("2022-12-26").exists(_.contains(s"${tag}_a")))
  }

  test("two drainers, one log tree: disjoint writer files, exactly-once union") {
    // The multi-tenant deployment shape: several hosts' capture pipelines
    // share ONE log directory, kept collision-free by the writer id
    // embedded in every file name (reference
    // DatePartitionedRecordsWriterFactory.java:208-214, IdGenerator
    // .java:27-29). Two full pipelines (hook → buffer → drain → Avro
    // container writer) with distinct logger ids run concurrently against
    // one tree; the contract is (a) file-name disjointness and (b) an
    // exactly-once union after the (QueryId, EventType) dedupe the read
    // path prescribes.
    import java.time.{Clock, Duration}
    val tag = nonce("multi")
    val base = Files.createTempDirectory(s"graft_${tag}").toFile
    def writer(id: String) = new graft.sink.DatePartitionedAvroWriter(
      base, graft.sink.AvroEventSink.avroSchema, Clock.systemUTC(), id,
      Duration.ofMinutes(30))
    val wA = writer("wrA")
    val wB = writer("wrB")
    type Tree = Seq[(java.io.File, Seq[org.apache.avro.generic.GenericRecord])]
    def records(tree: Tree): Seq[(String, String, String)] = tree.flatMap(_._2)
      .map(r => (Option(r.get("QueryId")).map(_.toString).getOrElse(""),
        Option(r.get("EventType")).map(_.toString).getOrElse(""),
        Option(r.get("QueryText")).map(_.toString).getOrElse("")))
      .filter(_._3.contains(tag))
    def side(tree: Tree, id: String) = records(tree.filter(_._1.getName.contains(id)))
    val dA = new CaptureDrainer(spark, base.toString, intervalMs = 200L,
      sink = Some(wA.writeFrame))
    val dB = new CaptureDrainer(spark, base.toString, intervalMs = 200L,
      sink = Some(wB.writeFrame))
    try {
      spark.range(40).selectExpr(s"sum(id) AS ${tag}_q1").collect()
      spark.range(50).selectExpr(s"sum(id) AS ${tag}_q2").collect()
      spark.range(60).selectExpr(s"sum(id) AS ${tag}_q3").collect()
      // each pipeline independently captures the whole workload: 3 pairs
      // per writer (they share the bus, not the buffer)
      assert(awaitReady(30000L) {
        val live = graft.sink.AvroEventSink.readTree(base, live = true)
        side(live, "_wrA").size >= 6 && side(live, "_wrB").size >= 6
      })
    } finally { dA.close(); dB.close(); wA.close(); wB.close() }
    val tree = graft.sink.AvroEventSink.readTree(base)
    // (a) the writer-id contract: every file names its writer, the two
    // sets are disjoint and both non-empty
    val files = tree.map(_._1)
    val a = files.filter(_.getName.contains("_wrA"))
    val b = files.filter(_.getName.contains("_wrB"))
    assert(a.nonEmpty && b.nonEmpty, s"files: ${files.map(_.getName)}")
    assert(a.size + b.size == files.size, "a file claims neither/both writers")
    assert(files.map(_.getName).distinct.size == files.size, "name collision")
    // (b) exactly-once union: both pipelines captured the same engine-
    // assigned QueryIds, so each lifecycle event appears once per writer
    // and the (QueryId, EventType) dedupe yields the single-writer truth
    val all = records(tree)
    val perWriter = side(tree, "_wrA")
    assert(perWriter.map(e => (e._1, e._2)).distinct.size == 6,
      s"writer A missed pairs: $perWriter")
    assert(all.size == 12, s"union pre-dedupe carries one copy per writer: $all")
    assert(all.distinct.size == 6, "dedupe on (QueryId, EventType) is exact")
    assert(all.distinct.toSet == side(tree, "_wrB").toSet,
      "deduped union equals each single writer's capture")
  }

  test("byte-bounded rollover end-to-end: live drain splits files, loses nothing") {
    // The 256 MB size trigger crossed on the LIVE path. Same hook →
    // buffer → drain → Avro pipeline as production, with the byte bound
    // squeezed to 4 KB (and the stat throttle to every append) so a handful
    // of captured events crosses it repeatedly: output must split into
    // several container files and the read-back union must still be the
    // exact event set.
    import java.time.{Clock, Duration}
    val tag = nonce("bytes")
    val base = Files.createTempDirectory(s"graft_${tag}").toFile
    val w = new graft.sink.DatePartitionedAvroWriter(
      base, graft.sink.AvroEventSink.avroSchema, Clock.systemUTC(), "bytewr",
      Duration.ofMinutes(30), maxFileBytes = 4096L, sizeCheckEvery = 1L)
    def events(live: Boolean): Seq[(String, String)] =
      graft.sink.AvroEventSink.readTree(base, live).flatMap(_._2)
        .filter(r => Option(r.get("QueryText")).exists(_.toString.contains(tag)))
        .map(r => (r.get("QueryId").toString, r.get("EventType").toString))
    val d = new CaptureDrainer(spark, base.toString, intervalMs = 200L,
      sink = Some(w.writeFrame))
    val n = 5
    try {
      (1 to n).foreach(i =>
        spark.range(40 + i).selectExpr(s"sum(id) AS ${tag}_q$i").collect())
      assert(awaitReady(30000L)(events(live = true).size >= 2 * n))
    } finally { d.close(); w.close() }
    val files = graft.sink.AvroEventSink.readTree(base).map(_._1)
    assert(files.size >= 2,
      s"4 KB bound never split: ${files.map(f => f.getName -> f.length())}")
    assert(files.forall(_.getName.startsWith("dwhassessment_")))
    // exactly-once across the splits: one SUBMITTED + one COMPLETED per
    // probe, no event duplicated or dropped by a mid-batch rollover
    val got = events(live = false)
    assert(got.size == 2 * n && got.distinct.size == 2 * n, s"events: $got")
    assert(got.count(_._2 == "QUERY_SUBMITTED") == n)
    assert(got.count(_._2 == "QUERY_COMPLETED") == n)
  }

  test("drainer survives a failing sink: counts writeFailed, keeps events") {
    val tag = nonce("badsink")
    // the sink path's PARENT is a regular file, so every write attempt
    // fails with an IO-shaped error after the retry budget
    val parent = Files.createTempFile(s"graft_${tag}", ".notadir")
    val d = new CaptureDrainer(spark, parent.toString + "/log",
      intervalMs = 150L)
    try {
      spark.range(40).selectExpr(s"sum(id) AS ${tag}_x").collect()
      assert(awaitReady(60000L)(d.writeFailed >= 1))
      assert(d.flushed == 0)
      assert(awaitReady(20000L)(d.listener.seen >= 2))
      // stop the scheduler first (its ticks race an explicit drain); the
      // final close-flush fails too and must requeue rather than lose
      d.close()
      val kept = d.listener.drain()
      assert(kept.exists(_.QueryText.exists(_.contains(tag))),
        s"failed batch lost; drained ${kept.size} events")
    } finally d.close()
  }
}
