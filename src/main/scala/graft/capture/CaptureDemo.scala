package graft.capture

import graft.{Graft, Tables}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checkable exercise of the capture operators (SURVEY.md §2.1) over
  * the driver's `events` table: each event row is deterministically mapped to
  * a synthetic hook context (version string, task DAG, conf map, job ids,
  * session id), then pushed through the real `CaptureOps` column functions —
  * so the DuckDB oracle checks O2 (version gate), O9 (mode classifier), O11
  * (queue lookup), O12 (request-user coalesce), O14 (instance type), and the
  * full O19 dispatch (MR job-id parse incl. skip-malformed, TEZ
  * session-snapshot join, LLAP registry join) end-to-end on 10k+ rows,
  * complementing the golden-record unit tests.
  */
object CaptureDemo {

  import CaptureOps._

  def capPipeline(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val task = (engine: String, llap: Boolean, ddl: Boolean) =>
      array(struct(
        lit(engine).as("engine"), lit(llap).as("llap"), lit(ddl).as("ddl")))
    val tasks = when(col("event_type") === "signup", array().cast(
        "array<struct<engine:string,llap:boolean,ddl:boolean>>"))
      .when(col("event_type") === "click", task("TEZ", false, false))
      .when(col("event_type") === "view", task("MR", false, false))
      .when(col("event_type") === "purchase" && col("user_id") % 3 === 0,
        task("TEZ", true, false)) // LLAP: tez task with llap daemons
      .when(col("event_type") === "purchase", task("SPARK", false, false))
      .otherwise(task("OTHER", false, true)) // error → DDL task
    val conf = typedLit(Map(
      "tez.queue.name" -> "tezq",
      "mapreduce.job.queuename" -> "mrq",
      "hive.llap.daemon.queue.name" -> "llapq",
      CapturePipeline.LlapServiceHostsKey -> "@llap0"))
    val raw = e.select(
      col("event_id"), col("user_id"), col("ts"),
      concat(lit("2."), (col("user_id") % 10).cast("string"), lit(".0"))
        .as("hive_version"),
      // first entry malformed on purpose: O19's MR arm must skip it
      array(lit("job_malformed"),
        when(col("user_id") % 5 === 0, concat(lit("badjob_"), col("event_id")))
          .otherwise(concat(lit("job_"), unix_millis(col("ts")).cast("string"),
            lit("_"), col("event_id")))).as("job_ids"),
      concat(lit("s"), (col("user_id") % 100).cast("string")).as("session_id"),
      when(col("user_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("user_id"))).as("user_name"),
      lit("svc").as("ugi_user"),
      (col("user_id") % 2 === 0).as("is_hs2"),
      tasks.as("tasks"))
    // O19 dimension snapshots: Tez sessions (session → app master) and the
    // LLAP registry (service hosts → long-lived daemon app). Both tiny →
    // broadcast hash joins.
    val tezDim = e.select(
      concat(lit("s"), (col("user_id") % 100).cast("string")).as("sessionId"),
      concat(lit("application_9000_"), (col("user_id") % 100).cast("string"))
        .as("tez_app")).distinct()
    val llapDim = s.range(1).select(
      lit("@llap0").as("hosts"), lit("application_llap_0").as("llap_app"))
    val mode = executionMode(col("tasks"))
    raw
      .filter(supportedVersion(col("hive_version"))) // O2 gate
      .join(broadcast(tezDim), col("session_id") === col("sessionId"), "left")
      .join(broadcast(llapDim),
        try_element_at(conf, lit(CapturePipeline.LlapServiceHostsKey)) === col("hosts"),
        "left")
      .select(
        col("event_id"),
        mode.as("exec_mode"),
        queueName(mode, conf).as("queue"),
        requestUser(col("user_name"), col("ugi_user")).as("request_user"),
        hiveInstanceType(col("is_hs2")).as("instance_type"),
        determineApplicationId(mode, col("job_ids"),
          col("tez_app"), col("llap_app")).as("yarn_app_id"))
      .orderBy("event_id")
  }

  /** The events table as completed-query records: the
    * QueryId/QueryType/EventType/StartTime/EndTime/Status/CountersObject
    * projection every replayed or batch-landed `cap_*` log shares, with
    * the event id as QueryId, its upper-cased kind as QueryType and one
    * counter as the CountersObject JSON. */
  private def asCompleted(df: DataFrame, id: Column = col("event_id"),
                          start: Column = col("ts"), end: Column = col("ts"),
                          status: Column = lit("SUCCESS"),
                          counter: Column = col("value")): DataFrame =
    df.select(
      id.cast("string").as("QueryId"),
      upper(col("event_type")).as("QueryType"),
      lit("QUERY_COMPLETED").as("EventType"),
      start.as("StartTime"),
      end.as("EndTime"),
      status.as("Status"),
      to_json(struct(counter)).as("CountersObject"))

  /** The file-stream round trip the streaming `cap_*` queries share:
    * `events.parquet` of `dir` is replayed as a file stream (`open` may be
    * called more than once, for plans with several stream arms; each call
    * yields the table's rows with `ts` as a TIMESTAMP), `records` maps the
    * stream to event records, and those land through the checkpointed
    * date-partitioned sink ([[graft.sink.EventSink.writeStream]],
    * Trigger.AvailableNow) in a fresh log that is then read back. Each call
    * uses a fresh temp log + checkpoint: the run IS the test of the commit
    * protocol. */
  private def replay(s: SparkSession, dir: String, name: String)(
      records: (() => DataFrame) => DataFrame): DataFrame = {
    val tmp = Graft.scratchDir(s"${name}_")
    val out = s"$tmp/log"
    val src = s"$dir/events.parquet"
    val batchSchema = s.read.parquet(src).schema
    // The file stream source wants a DIRECTORY; the table is a single
    // parquet file, so stream the parent dir with a glob pinned to it.
    val ss = Graft.streamSession(s)
    def open() = Tables.eventTs(ss.readStream.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
    graft.sink.EventSink.writeStream(records(open _), out, s"$tmp/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination()
    val back = graft.sink.EventSink.read(s, out)
    // The glob-pinned file source streams 0 rows silently if the table
    // layout ever changes (e.g. events becomes a parquet DIRECTORY); an
    // empty round trip must be a loud failure, not a 0-row "pass".
    require(!back.isEmpty,
      s"$name round trip read back 0 rows from $out (source $src)")
    back
  }

  /** End-to-end streaming capture: the events table is replayed through a
    * capture projection (QueryEvent columns, status classification,
    * counters-as-JSON) into the exactly-once sink, then read BACK from the
    * committed log and rolled up per (event date, query type) — so one
    * oracle-checked query spans O1 source → O4/O5 projection → O16
    * counters JSON → O23 partitioned sink → O26 read → A2 rollup, and the
    * DuckDB oracle checks the round trip end-to-end (any
    * lost/duplicated/mis-partitioned record breaks the hash). */
  def capStream(s: SparkSession, dir: String): DataFrame =
    replay(s, dir, "cap_stream")(open => asCompleted(open(),
        status = when(col("event_type") === "error", lit("FAIL"))
          .otherwise(lit("SUCCESS"))))
      .groupBy(col("EventDate").cast("string").as("day"),
        col("QueryType").as("query_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("Status") === "FAIL", 1L).otherwise(0L)).as("n_fail"),
        round(sum(get_json_object(col("CountersObject"), "$.value")
          .cast("double")) + lit(1e-9), 4).as("sum_value"))
      .orderBy("day", "query_type")

  /** Streaming watermark dedup round trip (A14's streaming face + O21/O23
    * exactly-once): every source event is duplicated IN-STREAM (explode of
    * a 2-element array — the at-least-once delivery a real capture bus
    * exhibits), collapsed by [[graft.streaming.EventStream.dedupWithinWatermark]]
    * on the event id, and written through the checkpointed date-partitioned
    * sink. The DuckDB oracle aggregates the ORIGINAL table — so the check
    * passes only if the stream emitted every event exactly once despite the
    * injected duplication. */
  def capStreamDedup(s: SparkSession, dir: String): DataFrame =
    replay(s, dir, "cap_stream_dedup")(open => asCompleted(
        graft.streaming.EventStream.dedupWithinWatermark(
          open().select(col("*"), explode(array(lit(1), lit(2))).as("_copy")))))
      .groupBy(col("EventDate").cast("string").as("day"),
        col("QueryType").as("query_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "query_type")

  /** Stream-stream join round trip (A1's streaming face through the real
    * sink): the events file is replayed as TWO independent file streams — a
    * submission stream (event_id, ts) and a completion stream whose
    * timestamp is shifted by a per-event deterministic latency
    * (floor(value) % 300 seconds) — inner-joined on the id with an
    * event-time range bound and watermarks on BOTH sides, which is what
    * lets Spark evict join state instead of buffering either stream
    * forever (the difference between a pipeline and an OOM at 100 TB/day).
    * The paired records flow through the checkpointed date-partitioned
    * sink and are read back; the DuckDB oracle aggregates the ORIGINAL
    * table, so the hash passes only if the stateful join paired every
    * event exactly once — nothing dropped at the watermark, nothing
    * emitted twice. */
  def capStreamJoin(s: SparkSession, dir: String): DataFrame =
    replay(s, dir, "cap_stream_join") { open =>
      // The assessment layer's valid-event contract, applied to BOTH stream
      // arms AND the oracle: a NULL event time cannot carry a watermark and
      // a NULL latency can never satisfy the range bound, so without the
      // symmetric filter the join silently drops exactly the rows the
      // oracle still counts (found by the nullev adversarial corpus).
      val valid = col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull
      val sub = open().filter(valid)
        .select(col("event_id").as("sub_id"), col("event_type"),
          col("ts").as("sub_ts"))
        .withWatermark("sub_ts", "1 hour")
      val done = open().filter(valid)
        // pmod, not %: a negative value would yield a negative latency, and
        // a completion before its submission can never satisfy the range
        // bound
        .withColumn("latency_s", pmod(floor(col("value")).cast("long"), lit(300)))
        .select(col("event_id").as("done_id"), col("latency_s"),
          (col("ts") +
            expr("make_interval(0, 0, 0, 0, 0, 0, latency_s)")).as("done_ts"))
        .withWatermark("done_ts", "2 hours")
      val joined = sub.join(done, expr(
        "done_id = sub_id AND done_ts >= sub_ts AND " +
          "done_ts <= sub_ts + interval 5 minutes"))
      asCompleted(joined, id = col("sub_id"), start = col("sub_ts"),
        end = col("done_ts"), counter = col("latency_s"))
    }
      // submission day, NOT EventDate: the sink partitions on the record's
      // effective (end) time per the reference contract, and a completion
      // latency can cross midnight — the funnel is reported by when work
      // ARRIVED, which also keeps the oracle a pure function of the source
      .groupBy(date_format(col("StartTime"), "yyyy-MM-dd").as("day"),
        col("QueryType").as("query_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(get_json_object(col("CountersObject"), "$.latency_s")
          .cast("double")) + lit(1e-9), 4).as("avg_latency_s"))
      .orderBy("day", "query_type")

  /** Run `n` tagged probe executions under a freshly installed
    * [[SparkCaptureListener]] and return every captured event whose text
    * carries the tag, draining the bounded buffer until `expected` tagged
    * events arrived (listener-bus delivery is asynchronous). Probes are
    * filtered by a tag in the captured text because the shared listener
    * bus may also deliver events from whatever else ran on the context. */
  private def runTaggedProbes(s: SparkSession, tag: String, n: Int,
                              expected: Int): Seq[graft.model.QueryEvent] = {
    val l = SparkCaptureListener.install(s)
    def probes(evs: Seq[graft.model.QueryEvent]) =
      evs.filter(_.QueryText.exists(_.contains(tag)))
    try {
      (1 to n).foreach(i =>
        s.range(100L * i).selectExpr(s"sum(id) AS ${tag}_$i").collect())
      probes(l.drainUntil()(probes(_).size >= expected))
    } finally SparkCaptureListener.uninstall(s, l)
  }

  /** Lands captured events through the retrying batch sink
    * ([[graft.sink.EventSink.writeBatchWithRetry]]) in a fresh log and
    * reads them back through the schema-evolution read. */
  private def land(s: SparkSession, prefix: String,
                   events: Seq[graft.model.QueryEvent]): DataFrame = {
    val log = s"${Graft.scratchDir(prefix)}/log"
    import s.implicits._
    graft.sink.EventSink.writeBatchWithRetry(s.createDataset(events).toDF(), log)
    graft.sink.EventSink.readAsEvents(s, log)
  }

  /** Live-hook round trip: the [[SparkCaptureListener]] (the reference's
    * entry-point analog) attached to the very context running the query.
    * Three tagged probe executions run; their captured COMPLETED events
    * flow through the retrying batch sink ([[graft.sink.Retry]], O22) and
    * the schema-evolution read, and the output is their (type, status)
    * count — a constant the DuckDB oracle pins, so the hash passes only if
    * capture → bounded admission → drain → sink → read-back delivered
    * EXACTLY the three probes with SUCCESS status. */
  def capLiveHook(s: SparkSession, dir: String): DataFrame = {
    // Per-invocation nonce in the tag: a bench re-measure runs this twice
    // in one JVM, and a late-delivered probe event from the FIRST run must
    // not count toward the second's three.
    val tag = s"graft_probe_${java.util.UUID.randomUUID().toString.take(8)}"
    // 6 expected: the lifecycle hook emits SUBMITTED + COMPLETED per probe.
    val probed = runTaggedProbes(s, tag, n = 3, expected = 6)
      .filter(_.EventType.contains(graft.model.EventType.QueryCompleted.name))
    require(probed.size == 3, s"expected 3 probe captures, got ${probed.size}")
    land(s, "livehook_", probed)
      .filter(col("QueryText").contains(tag))
      .groupBy(col("QueryType").as("query_type"), col("Status").as("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy("query_type", "status")
  }

  /** The reference's TWO-EVENT lifecycle, captured live and assessed:
    * each probe must yield one QUERY_SUBMITTED and one
    * QUERY_COMPLETED event sharing a QueryId; both flow through the sink
    * and are paired back by the A1 lifecycle join ON THE CAPTURED LOG —
    * submit side to start side — with a non-negative duration. The output
    * is one row per probe, constant by construction, so the DuckDB oracle
    * pins the whole chain: 2-event emission → shared id → sink round trip
    * → A1 pairing. */
  def capLiveLifecycle(s: SparkSession, dir: String): DataFrame = {
    val tag = s"graft_life_${java.util.UUID.randomUUID().toString.take(8)}"
    val events = runTaggedProbes(s, tag, n = 3, expected = 6)
    val log = land(s, "livelife_", events)
      .filter(col("QueryText").contains(tag))
      // which probe: the tag's alias suffix in the captured text
      .withColumn("probe",
        regexp_extract(col("QueryText"), s"${tag}_(\\d+)", 1).cast("int"))
    val sub = log.filter(col("EventType") === "QUERY_SUBMITTED")
      .select(col("QueryId"), col("probe").as("sub_probe"),
        col("StartTime").as("sub_time"))
    val done = log.filter(col("EventType") === "QUERY_COMPLETED")
      .select(col("QueryId"), col("probe").as("done_probe"),
        col("StartTime"), col("EndTime"), col("Status"))
    // A1 lifecycle pairing on live-captured data: inner join on the shared
    // engine-assigned QueryId.
    sub.join(done, "QueryId")
      .select(
        col("sub_probe").as("probe"),
        (col("sub_probe") === col("done_probe")).as("same_probe"),
        (unix_millis(col("EndTime")) >= unix_millis(col("sub_time")))
          .as("duration_nonneg"),
        col("Status").as("status"))
      .groupBy("probe")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("same_probe").cast("int")).as("probe_consistent"),
        min(col("duration_nonneg").cast("int")).as("dur_ok"),
        min(col("status")).as("status"))
      .orderBy("probe")
  }

  /** Live entity + provenance round trip: a partitioned
    * catalog table is created, filled with TWO static-partition inserts and
    * read back under a partition filter, all under the live hook — then the
    * captured events flow through the sink and the six entity arrays plus
    * the session surface are checked FROM THE LOG: PartitionsWritten must
    * carry both static specs, PartitionsRead exactly the one PRUNED
    * partition (the filter reached the scan — a pushdown proof captured as
    * data), Databases{Read,Written} the bare db, Queue the session's pool,
    * SessionId present, DefaultDatabase/HookVersion the constants. Output
    * is a constant (aspect, value) frame, so the DuckDB oracle pins the
    * whole surface hash-green. */
  def capLiveEntities(s: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val table = s"capent_$tag"
    val pool = s"pool_$tag"
    val l = SparkCaptureListener.install(s)
    s.conf.set("spark.scheduler.pool", pool)
    def ready(evs: Seq[graft.model.QueryEvent]) = {
      val done = evs.filter(_.EventType
        .contains(graft.model.EventType.QueryCompleted.name))
      done.count(_.PartitionsWritten.exists(_.contains(table))) >= 2 &&
        done.exists(_.PartitionsRead.exists(_.contains(table)))
    }
    val events = try {
      s.sql(s"CREATE TABLE $table (x INT, day STRING) USING parquet " +
        "PARTITIONED BY (day)")
      s.sql(s"INSERT INTO $table PARTITION (day='2024-01-01') VALUES (1), (2)")
      s.sql(s"INSERT INTO $table PARTITION (day='2024-01-02') VALUES (3)")
      s.sql(s"SELECT sum(x) AS s_$tag FROM $table WHERE day = '2024-01-01'")
        .collect()
      val got = l.drainUntil()(ready)
      require(ready(got), s"probe events not captured; got ${got.size}")
      got
    } finally {
      scala.util.Try(s.conf.unset("spark.scheduler.pool"))
      SparkCaptureListener.uninstall(s, l)
      scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $table"))
    }
    val back = land(s, "livent_", events)
      .filter(col("EventType") === "QUERY_COMPLETED")
    val ins = back.filter(exists(col("PartitionsWritten"),
      p => p.contains(table)))
    val rd = back.filter(size(col("PartitionsRead")) > 0 &&
      exists(col("PartitionsRead"), p => p.contains(table)))
    // `db@table@spec` → `spec`: the table name carries the nonce, the
    // partition spec is the deterministic part the oracle can pin
    def spec(c: org.apache.spark.sql.Column) = regexp_replace(c, "^.*@", "")
    def one(aspect: String, value: org.apache.spark.sql.Column,
            src: DataFrame): DataFrame =
      src.agg(value.as("value")).select(lit(aspect).as("aspect"), col("value"))
    one("parts_written",
        concat_ws(";", sort_array(collect_set(spec(col("p"))))),
        ins.select(explode(col("PartitionsWritten")).as("p")))
      .unionByName(one("parts_read",
        concat_ws(";", sort_array(collect_set(spec(col("p"))))),
        rd.select(explode(col("PartitionsRead")).as("p"))))
      .unionByName(one("dbs_written",
        concat_ws(";", sort_array(collect_set(col("d")))),
        ins.select(explode(col("DatabasesWritten")).as("d"))))
      .unionByName(one("dbs_read",
        concat_ws(";", sort_array(collect_set(col("d")))),
        rd.select(explode(col("DatabasesRead")).as("d"))))
      .unionByName(one("queue",
        min(when(col("Queue") === pool, "pool_set").otherwise("missing")), rd))
      .unionByName(one("session_id",
        min(when(length(col("SessionId")) > 0, "present").otherwise("missing")),
        rd))
      .unionByName(one("default_db", min(col("DefaultDatabase")), rd))
      .unionByName(one("hook_version", min(col("HookVersion")), rd))
      .orderBy("aspect")
  }

  /** Live FAIL path end-to-end: the reference emits FAIL
    * COMPLETED events as first-class data (`EventStatus.java:20-21`) —
    * here a deliberately failing query (a per-row `assert_true` that trips
    * at TASK time, so submission really happened and the plan exists) runs
    * under the full production wiring, [[CaptureDrainer]]: hook → bounded
    * buffer → daemon drain → retrying sink. The pinned frame proves, from
    * the SINK's content, that the failure produced a paired
    * SUBMITTED/COMPLETED lifecycle with Status=FAIL, a non-empty captured
    * error message carrying the task's own assertion text, QUERY type and
    * a non-negative duration. Pollution-proof by construction: the sink
    * also captures this method's own polling reads (they carry the tag
    * LITERAL in their plan text), so the filter keys on Status=FAIL plus
    * the tag inside ErrorMessage — a property only the failing probe's
    * completion event can have. */
  def capLiveFail(s: SparkSession, dir: String): DataFrame = {
    val tag = s"boom_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = Graft.scratchDir("livefail_")
    val log = s"$tmp/log"
    val drainer = new CaptureDrainer(s, log, intervalMs = 250L)
    try {
      val probe = scala.util.Try(
        s.sql(s"SELECT assert_true(id < 5, '$tag') AS ok FROM range(10)")
          .collect())
      require(probe.isFailure, "fail probe unexpectedly succeeded")
      def ready: Boolean = scala.util.Try {
        val evs = graft.sink.EventSink.readAsEvents(s, log)
        val failIds = evs.filter(col("EventType") === "QUERY_COMPLETED" &&
          col("Status") === "FAIL" && col("ErrorMessage").contains(tag))
          .select("QueryId")
        evs.filter(col("EventType") === "QUERY_SUBMITTED")
          .join(failIds, "QueryId").count() >= 1
      }.getOrElse(false)
      require(SparkCaptureListener.awaitReady()(ready),
        s"tagged FAIL pair never reached the sink at $log")
    } finally drainer.close()
    val evs = graft.sink.EventSink.readAsEvents(s, log)
    val done = evs.filter(col("EventType") === "QUERY_COMPLETED" &&
        col("Status") === "FAIL" && col("ErrorMessage").contains(tag))
      .select(col("QueryId"), col("QueryType"), col("Status"),
        col("ErrorMessage"), col("EndTime"))
    val sub = evs.filter(col("EventType") === "QUERY_SUBMITTED")
      .select(col("QueryId"), col("StartTime").as("sub_time"))
    done.join(sub, "QueryId")
      .agg(
        count(lit(1)).as("n"),
        min(col("Status")).as("status"),
        min(when(length(col("ErrorMessage")) > 0, "present")
          .otherwise("missing")).as("err"),
        min(col("QueryType")).as("qt"),
        min((unix_millis(col("EndTime")) >= unix_millis(col("sub_time")))
          .cast("int")).as("dur_ok"))
      .select(explode(map(
        lit("dur_ok"), col("dur_ok").cast("string"),
        lit("error"), col("err"),
        lit("n_pairs"), col("n").cast("string"),
        lit("query_type"), col("qt"),
        lit("status"), col("status"))).as(Seq("aspect", "value")))
      .orderBy("aspect")
  }

  /** Multi-writer capture as a hard-gate row: TWO full live pipelines (hook →
    * bounded buffer → daemon drain → reference-format Avro container
    * writer), with distinct writer ids, run concurrently against ONE log
    * tree — the multi-tenant shape where several hosts share a log
    * directory, kept collision-free by the writer id embedded in every
    * file name (reference `DatePartitionedRecordsWriterFactory.java:208-
    * 214`, `IdGenerator.java:27-29`). Three tagged probes run under both;
    * the verdict frame is constant by construction, so the DuckDB oracle
    * pins: (a) file-name attribution is total and disjoint, (b) each
    * writer independently captured all 3 probe lifecycles (6 events), and
    * (c) the shared tree holds one attributed copy per writer (12 distinct
    * (writer, QueryId, EventType) entries) that the DISTRIBUTED read's
    * (QueryId, EventType) dedupe collapses to the single-writer truth (6)
    * — exactly-once end-to-end. */
  def capLiveMulti(s: SparkSession, dir: String): DataFrame = {
    val tag = s"graft_multi_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = Graft.scratchDir("livemulti_")
    val base = new java.io.File(s"$tmp/log"); base.mkdirs()
    def mkWriter(id: String) = new graft.sink.DatePartitionedAvroWriter(
      base, graft.sink.AvroEventSink.avroSchema, java.time.Clock.systemUTC(),
      id, java.time.Duration.ofMinutes(30))
    val wA = mkWriter("wrA"); val wB = mkWriter("wrB")
    type Tree = Seq[(java.io.File, Seq[org.apache.avro.generic.GenericRecord])]
    // (QueryId, EventType) of the tagged records in one writer's files
    def side(tree: Tree, id: String): Seq[(String, String)] = tree
      .filter(_._1.getName.contains(id)).flatMap(_._2)
      .filter(r => Option(r.get("QueryText")).exists(_.toString.contains(tag)))
      .map(r => (Option(r.get("QueryId")).map(_.toString).getOrElse(""),
        Option(r.get("EventType")).map(_.toString).getOrElse("")))
    val dA = new CaptureDrainer(s, base.toString, intervalMs = 200L,
      sink = Some(wA.writeFrame))
    val dB = new CaptureDrainer(s, base.toString, intervalMs = 200L,
      sink = Some(wB.writeFrame))
    try {
      (1 to 3).foreach(i =>
        s.range(100L * i).selectExpr(s"sum(id) AS ${tag}_$i").collect())
      var live: Tree = Nil
      require(SparkCaptureListener.awaitReady() {
          live = graft.sink.AvroEventSink.readTree(base, live = true)
          side(live, "_wrA").size >= 6 && side(live, "_wrB").size >= 6
        },
        s"multi-writer capture incomplete at $base: " +
          s"A=${side(live, "_wrA").size} B=${side(live, "_wrB").size}")
    } finally { dA.close(); dB.close(); wA.close(); wB.close() }
    val tree = graft.sink.AvroEventSink.readTree(base)
    val files = tree.map(_._1)
    val a = files.filter(_.getName.contains("_wrA"))
    val b = files.filter(_.getName.contains("_wrB"))
    val disjoint = a.nonEmpty && b.nonEmpty && a.size + b.size == files.size &&
      files.map(_.getName).distinct.size == files.size
    val nA = side(tree, "_wrA").distinct.size
    val nB = side(tree, "_wrB").distinct.size
    // exactly-once union through the DISTRIBUTED read path over BOTH
    // writers' files at once. `pre` counts DISTINCT (writer, QueryId,
    // EventType) copies — one per writer per lifecycle event = 12 — not
    // raw rows: the drainer's requeue-after-sink-failure path may append
    // a batch twice, at-least-once inside one writer's files is the sink
    // contract, and a raw row count would turn that transient into an
    // opaque oracle hash red; the dedupe on the distributed read below
    // still proves the union collapses to the single-writer truth.
    val frame = graft.sink.AvroEventSink.readAsFrame(s, base.toString)
      .filter(col("QueryText").contains(tag))
    val post = frame.select("QueryId", "EventType").distinct().count()
    // Loss-side pin through the DISTRIBUTED read: `pre` is computed
    // driver-side per writer, so a readAsFrame that silently dropped one
    // writer's whole tree would leave `post` at 6 (the other writer
    // supplies every pair). Reading each writer's files THROUGH readAsFrame
    // (filename glob = the writer-id attribution the oracle already pins
    // as total/disjoint) and distinct-counting per side tolerates requeue
    // duplicates but fails loud on whole-writer loss.
    def readSide(id: String): Long = graft.sink.AvroEventSink
      .readAsFrame(s, base.toString, glob = s"dwhassessment_*${id}*.avro")
      .filter(col("QueryText").contains(tag))
      .select("QueryId", "EventType").distinct().count()
    val readAttributed = readSide("_wrA") + readSide("_wrB")
    s.range(1).select(explode(map(
      lit("files_disjoint"), lit(if (disjoint) "1" else "0"),
      lit("union_deduped"), lit(post.toString),
      lit("union_pre_dedupe"), lit((nA + nB).toString),
      lit("union_read_attributed"), lit(readAttributed.toString),
      lit("writer_a_events"), lit(nA.toString),
      lit("writer_b_events"), lit(nB.toString)))
      .as(Seq("aspect", "value")))
      .orderBy("aspect")
  }

  /** Streaming heavy hitters: the custom Misra–Gries
    * [[graft.functions.FreqSketchMG]] aggregate running INSIDE a streaming
    * aggregation — the skewed hot/cold key stream is staged as four
    * parquet files and replayed one file per micro-batch, so the k-bounded
    * sketch buffers serialize through the state store and MERGE across
    * batches (the path a batch query never exercises). Complete-mode
    * memory sink; the final sketch is judged against exact batch counts
    * with the order-independent MG guarantee per hot key — the same
    * verdict frame (and oracle) as `x_heavy_hitters`, now earned through
    * checkpointed streaming state.
    *
    * Scale shape: streaming state is one k-counter buffer per shuffle
    * partition, constant regardless of stream length — the top-talkers
    * monitor a 100 TB/day stream can actually afford. */
  def capStreamTopk(s: SparkSession, dir: String): DataFrame = {
    val tmp = Graft.scratchDir("topk_")
    val src = s"$tmp/keys"
    val k = 16
    val keyed = graft.ext.SqlSurface.hotColdKeys(s, dir)
    keyed.repartition(4).write.mode("overwrite").parquet(src)
    val ss = Graft.streamSession(s)
    val q = ss.readStream.schema("key STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .agg(graft.functions.FreqSketchMG.freqSketch(k)(col("key")).as("m"))
      .writeStream.format("memory").queryName("graft_topk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val est = ss.table("graft_topk")
      .select(explode(col("m")).as(Seq("key", "est")))
      .localCheckpoint() // detach from the stopped memory sink
    require(!est.isEmpty, s"cap_stream_topk: empty sketch from $src")
    val exact = keyed.groupBy("key").agg(count(lit(1)).as("n_exact"))
    graft.ext.SqlSurface.hotKeyVerdict(exact, est, k)
  }

  /** Reference-format Avro round trip, DISTRIBUTED both ways: the events
    * table is projected into QueryEvent records, written
    * as true Avro container files in the reference's date-partitioned
    * layout ([[graft.sink.AvroEventSink.write]] — one container file per
    * task per day, reference file names), then read back through the
    * binaryFile-source decode ([[graft.sink.AvroEventSink.readAsFrame]])
    * and rolled up per (day, type). The DuckDB oracle aggregates the
    * ORIGINAL table, so the hash is green only if the container encode →
    * layout → distributed decode chain lost and duplicated nothing. */
  def capAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = Graft.scratchDir("avro_")
    val log = s"$tmp/log"
    val records = asCompleted(graft.Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull))
    graft.sink.AvroEventSink.write(
      graft.sink.EventSink.conform(records), log, "rtrip")
    val back = graft.sink.AvroEventSink.readAsFrame(s, log)
    require(!back.isEmpty, s"avro round trip read back 0 rows from $log")
    back
      .groupBy(date_format(col("EndTime"), "yyyy-MM-dd").as("day"),
        col("QueryType").as("query_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(get_json_object(col("CountersObject"), "$.value")
          .cast("double")) + lit(1e-9), 4).as("sum_value"))
      .orderBy("day", "query_type")
  }

  /** Log-compaction round trip — the at-least-once RECOVERY path proven
    * end-to-end (a transient failure mid job-commit can leave some files
    * published, and the append-mode retry then writes the whole batch
    * again): the same batch is deliberately written TWICE, then
    * [[graft.sink.EventSink.readLatestEvents]] collapses the duplicates to
    * one row per (QueryId, EventType) lifecycle event and the compacted
    * log is rolled up per (day, type). The DuckDB oracle aggregates the
    * ORIGINAL table once, so the hash passes only if compaction returned
    * exactly one copy of every event — the maintenance job a long-lived
    * event log runs to restore exactly-once semantics after retried
    * commits. */
  def capLogCompact(s: SparkSession, dir: String): DataFrame = {
    val tmp = Graft.scratchDir("compact_")
    val log = s"$tmp/log"
    val records = asCompleted(graft.Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull))
    graft.sink.EventSink.writeBatch(records, log)
    graft.sink.EventSink.writeBatch(records, log) // the duplicated commit
    graft.sink.EventSink.readLatestEvents(s, log)
      .groupBy(date_format(col("EndTime"), "yyyy-MM-dd").as("day"),
        col("QueryType").as("query_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "query_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("cap_pipeline" -> capPipeline, "cap_stream" -> capStream,
      "cap_stream_dedup" -> capStreamDedup,
      "cap_stream_topk" -> capStreamTopk,
      "cap_stream_join" -> capStreamJoin,
      "cap_live_hook" -> capLiveHook,
      "cap_log_compact" -> capLogCompact,
      "cap_live_lifecycle" -> capLiveLifecycle,
      "cap_live_entities" -> capLiveEntities,
      "cap_live_fail" -> capLiveFail,
      "cap_live_multi" -> capLiveMulti,
      "cap_avro_roundtrip" -> capAvroRoundtrip)

  val oracles: Map[String, String] = Map(
    "cap_pipeline" ->
      """SELECT event_id,
        |CASE WHEN event_type = 'signup' THEN 'CLIENT_ONLY'
        |  WHEN event_type = 'click' THEN 'TEZ'
        |  WHEN event_type = 'view' THEN 'MR'
        |  WHEN event_type = 'purchase' THEN
        |    (CASE WHEN user_id % 3 = 0 THEN 'LLAP' ELSE 'SPARK' END)
        |  ELSE 'DDL' END AS exec_mode,
        |CASE WHEN event_type = 'click' THEN 'tezq'
        |  WHEN event_type = 'view' THEN 'mrq'
        |  WHEN event_type = 'purchase' AND user_id % 3 = 0 THEN 'llapq'
        |  ELSE NULL END AS queue,
        |COALESCE(CASE WHEN user_id % 7 = 0 THEN NULL
        |  ELSE 'u' || CAST(user_id AS VARCHAR) END, 'svc') AS request_user,
        |CASE WHEN user_id % 2 = 0 THEN 'HS2' ELSE 'CLI' END AS instance_type,
        |CASE WHEN event_type = 'view' THEN
        |    (CASE WHEN user_id % 5 = 0 THEN NULL
        |     ELSE 'application_' || CAST(epoch_ms(ts) AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) END)
        |  WHEN event_type = 'click' THEN 'application_9000_' || CAST(user_id % 100 AS VARCHAR)
        |  WHEN event_type = 'purchase' AND user_id % 3 = 0 THEN 'application_llap_0'
        |  ELSE NULL END AS yarn_app_id
        |FROM events WHERE (user_id % 10) >= 2 ORDER BY event_id""".stripMargin,
    // The original table aggregated ONCE — green only if readLatestEvents
    // collapsed the doubled commit to exactly one copy per event.
    "cap_log_compact" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, upper(event_type) AS query_type,
        |count(*) AS n
        |FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cap_stream" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, upper(event_type) AS query_type,
        |count(*) AS n,
        |CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
        |round(sum(value) + 1e-9, 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The original table, each event ONCE — passes only if the stream
    // collapsed the injected ×2 duplication exactly.
    "cap_stream_dedup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, upper(event_type) AS query_type,
        |count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same verdict frame as the batch/SQL form — the MG guarantee is
    // unconditional, so the streaming path must land on the identical rows.
    "cap_stream_topk" -> graft.ext.SqlSurface.oracles("x_heavy_hitters"),
    // Constant by construction: exactly the three tagged probes, captured
    // live, through the sink, each exactly once with SUCCESS.
    "cap_live_hook" ->
      """SELECT 'QUERY' AS query_type, 'SUCCESS' AS status,
        |CAST(3 AS BIGINT) AS n""".stripMargin,
    // Constant by construction: each probe yields exactly one
    // SUBMITTED+COMPLETED pair, ids agree, duration >= 0, SUCCESS.
    "cap_live_lifecycle" ->
      """SELECT probe, CAST(1 AS BIGINT) AS n_pairs,
        |1 AS probe_consistent, 1 AS dur_ok, 'SUCCESS' AS status
        |FROM (SELECT unnest([1, 2, 3]) AS probe) ORDER BY probe""".stripMargin,
    // The original table aggregated ONCE — green only if the Avro
    // container encode → reference layout → distributed binaryFile decode
    // chain was lossless and duplicate-free.
    "cap_avro_roundtrip" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, upper(event_type) AS query_type,
        |count(*) AS n,
        |round(sum(value) + 1e-9, 4) AS sum_value
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Constant by construction: the full entity + provenance surface of
    // the live hook, captured on a partitioned-table probe and read back
    // through the sink.
    "cap_live_entities" ->
      """SELECT aspect, value FROM (VALUES
        |  ('dbs_read', 'default'),
        |  ('dbs_written', 'default'),
        |  ('default_db', 'default'),
        |  ('hook_version', '1.0'),
        |  ('parts_read', 'day=2024-01-01'),
        |  ('parts_written', 'day=2024-01-01;day=2024-01-02'),
        |  ('queue', 'pool_set'),
        |  ('session_id', 'present')) AS t(aspect, value)
        |ORDER BY aspect""".stripMargin,
    // Constant by construction: two concurrent writer pipelines over one
    // log tree — disjoint file attribution, 6 events captured per writer,
    // a 12-row distributed union that dedupes to the 6-event truth.
    "cap_live_multi" ->
      """SELECT aspect, value FROM (VALUES
        |  ('files_disjoint', '1'),
        |  ('union_deduped', '6'),
        |  ('union_pre_dedupe', '12'),
        |  ('union_read_attributed', '12'),
        |  ('writer_a_events', '6'),
        |  ('writer_b_events', '6')) AS t(aspect, value)
        |ORDER BY aspect""".stripMargin,
    // Constant by construction: the failing probe's lifecycle, captured
    // live through the drainer and read from the sink — one paired
    // SUBMITTED/COMPLETED, FAIL status, non-empty error, QUERY type.
    "cap_live_fail" ->
      """SELECT aspect, value FROM (VALUES
        |  ('dur_ok', '1'),
        |  ('error', 'present'),
        |  ('n_pairs', '1'),
        |  ('query_type', 'QUERY'),
        |  ('status', 'FAIL')) AS t(aspect, value)
        |ORDER BY aspect""".stripMargin,
    // The original table, each event paired ONCE with its shifted twin —
    // passes only if the stream-stream join was exactly-once end-to-end.
    "cap_stream_join" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, upper(event_type) AS query_type,
        |count(*) AS n,
        |round(avg(((CAST(floor(value) AS BIGINT) % 300) + 300) % 300) + 1e-9, 4)
        |  AS avg_latency_s
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
