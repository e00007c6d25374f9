package graft.capture

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.util.Try

import graft.model.{EventStatus, EventType, ExecutionMode, QueryEvent}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The Spark-side capture hook — this library's analog of the reference's
  * ENTRY POINT (`MigrationAssessmentLoggingHook.java:40-68`, a Hive
  * `ExecuteWithHookContext`): every SQL execution on the context yields the
  * reference's TWO-EVENT LIFECYCLE (`EventRecordConstructor.java:80-92`) —
  * a `QUERY_SUBMITTED` [[QueryEvent]] when the execution starts and a
  * `QUERY_COMPLETED` one when it ends — paired by a shared QueryId
  * (`<appId>_<sqlExecutionId>`), which is what makes A1 lifecycle pairing
  * meaningful on live-captured logs.
  *
  * Implemented as ONE `SparkListener` on the shared listener bus rather
  * than a `QueryExecutionListener`: the post-hoc listener API never sees
  * the submit side, while `SparkListenerSQLExecutionStart` /
  * `SparkListenerSQLExecutionEnd` carry both ends of the lifecycle under
  * the same engine-assigned execution id. The End event's rich payload
  * (the `QueryExecution`, engine-measured duration, failure cause) is
  * package-private to Spark and read through the compile-time [[SqlEndShim]]
  * (the O28 reflection-shim analog).
  *
  * Field mapping (reference `EventRecordConstructor.java`):
  * query id ← SQL execution id under the app id; user ← `sparkUser`;
  * query type ← the plan's operation (QUERY / INSERT / CREATETABLE / … —
  * the reference's HiveOperation name, here derived from the analyzed
  * plan's command class); tables read ← catalog names (or file-source root
  * paths) of the plan's leaf relations; tables written ← the WRITE
  * COMMAND'S TARGET (catalog-qualified name or output path — reference
  * `getTablesWritten`, `EventRecordConstructor.java:116-117`); perf ← the
  * planning-phase durations Spark itself tracks (`qe.tracker.phases`), in
  * the O15 `{phase: durationMs}` JSON shape; counters ← duration + root
  * output-row metric as one JSON column (O16 shape).
  *
  * Listener-bus discipline (callbacks must never block or throw, and a
  * slow consumer must not OOM the driver — the reference solves the same
  * problem with its bounded queue, O21): events land in a bounded buffer
  * with drop-and-count admission; [[drain]] hands them to the host.
  * Record-construction failures are counted SEPARATELY ([[buildFailed]])
  * so `dropped` stays strictly the bounded-admission metric. Executions
  * tagged [[SparkCaptureListener.SelfTag]] (the drainer's own sink writes)
  * are suppressed — otherwise a self-draining hook would capture its own
  * writes forever.
  */
final class SparkCaptureListener(appId: String, user: String,
                                 maxBuffered: Int = 8192)
    extends SparkListener {

  private val buf = new ConcurrentLinkedQueue[QueryEvent]
  private val buffered = new AtomicInteger(0)
  private val droppedN = new AtomicLong(0L)
  private val buildFailedN = new AtomicLong(0L)
  private val seenN = new AtomicLong(0L)

  import SparkCaptureListener.{Exec, LowWatermark, MaxTracked, StaleMs}

  // executionId → what the listener knows of it between Start and End:
  // submit time (duration fallback for End events without an engine-
  // measured duration), whether it runs under the self-tag (its End must
  // not be admitted either; settled before the End arrives, bus order),
  // and the fair-scheduler pool of its jobs. Entries normally die with
  // their End event, but the shared bus DROPS events under saturation and
  // cancelled executions may never post an End, so the map is pruned by
  // [[prune]] and stays bounded even when Ends never arrive.
  private val execs = new ConcurrentHashMap[java.lang.Long, Exec]

  /** Entries currently tracked (at most `MaxTracked` after each insert). */
  private[capture] def tracked: Int = execs.size

  private def track(id: Long, now: Long)(f: Exec => Exec): Unit = {
    execs.compute(Long.box(id), (_, e) => f(e))
    prune(now)
  }

  // Stale entries (no activity for StaleMs) go first; if the map is over
  // cap with only YOUNG entries (a burst where Ends are being lost), evict
  // arbitrarily down to the watermark: a strict memory bound beats perfect
  // tracking, and losing an entry only degrades a fallback (the duration
  // estimate, the Queue field, or the self-suppression that
  // [[selfPathHint]] also covers).
  private def prune(now: Long): Unit =
    if (execs.size > MaxTracked) {
      val it = execs.values().iterator()
      while (it.hasNext) {
        if (now - it.next().atMs >= StaleMs) it.remove()
      }
      val it2 = execs.values().iterator()
      while (it2.hasNext && execs.size > LowWatermark) { it2.next(); it2.remove() }
    }

  // The pool comes from the execution's jobs: SparkListenerJobStart.properties
  // carries the submitting thread's `spark.scheduler.pool`, which the SQL
  // events do not (the reference's O11 queue lookup for the live hook).
  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val props = jobStart.properties
    if (props != null) {
      val execId = props.getProperty("spark.sql.execution.id")
      val pool = props.getProperty("spark.scheduler.pool")
      if (execId != null && pool != null) {
        Try(track(execId.toLong, jobStart.time) { e =>
          if (e == null) Exec(jobStart.time, None, self = false, Some(pool))
          else e.copy(pool = Some(pool))
        })
        ()
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case st: SparkListenerSQLExecutionStart =>
      val self = st.jobTags.contains(SparkCaptureListener.SelfTag)
      track(st.executionId, st.time)(e =>
        Exec(st.time, Some(st.time), self, Option(e).flatMap(_.pool)))
      if (!self) admit(() => submitted(st))
    case en: SparkListenerSQLExecutionEnd =>
      val e = Option(execs.remove(Long.box(en.executionId)))
      if (!e.exists(_.self) && !isSelfByHint(en))
        admit(() => completed(en, e.flatMap(_.startMs), e.flatMap(_.pool)))
    case _ => ()
  }

  /** Backstop for the tag-based suppression: when the saturated bus DROPS
    * a self-tagged Start, its End arrives with no `selfIds` entry — if the
    * host registered where the capture machinery writes
    * ([[selfPathHint]]), an End whose write targets that path is still
    * suppressed, closing the feedback loop (a capture log that captures
    * its own sink writes forever). */
  @volatile private[capture] var selfPathHint: Option[String] = None

  private def isSelfByHint(en: SparkListenerSQLExecutionEnd): Boolean =
    selfPathHint.exists { h =>
      Try(Option(SqlEndShim.qe(en)).exists(q =>
        SparkCaptureListener.writeTargets(q).exists(_.contains(h))))
        .getOrElse(false)
    }

  /** Events captured so far, in arrival order; removes them from the
    * buffer. The host thread calls this, never the listener bus. */
  def drain(): Seq[QueryEvent] = {
    val out = Vector.newBuilder[QueryEvent]
    var e = buf.poll()
    while (e != null) {
      buffered.decrementAndGet()
      out += e
      e = buf.poll()
    }
    out.result()
  }

  /** Put already-drained events BACK (a failed sink write hands its batch
    * back rather than losing it). Bounded like first admission — overflow
    * counts in [[dropped]] — but does NOT touch [[seen]]: these events were
    * already counted on arrival. Order degrades to re-queue order; the
    * sink's consumers key on QueryId, not position. */
  private[capture] def requeue(events: Seq[QueryEvent]): Unit =
    events.foreach { e =>
      if (buffered.incrementAndGet() <= maxBuffered) { buf.add(e); () }
      else {
        buffered.decrementAndGet()
        droppedN.incrementAndGet()
        ()
      }
    }

  /** Drains until the events gathered so far satisfy `ready` or
    * `timeoutMs` passes, and returns them all, in arrival order. */
  def drainUntil(timeoutMs: Long = 30000L)(
      ready: Seq[QueryEvent] => Boolean): Seq[QueryEvent] = {
    var all = Vector.empty[QueryEvent]
    SparkCaptureListener.awaitReady(timeoutMs) { all ++= drain(); ready(all) }
    all
  }

  /** O21 contract: events dropped because the buffer was full. */
  def dropped: Long = droppedN.get()

  /** Events currently buffered and not yet drained — the residue a closing
    * drainer reports instead of leaving the loss observable only through
    * counter polling. */
  def pending: Int = buffered.get()

  /** Events lost to a record-construction failure — kept separate from
    * [[dropped]] so backpressure and build bugs stay distinguishable. */
  def buildFailed: Long = buildFailedN.get()

  /** Total lifecycle callbacks observed (admitted + dropped + build-failed;
    * self-tagged executions excluded) — lets a test await asynchronous
    * listener-bus delivery without sleeping blind. */
  def seen: Long = seenN.get()

  private def admit(make: () => QueryEvent): Unit = {
    // Reserve-then-build keeps the cap exact under concurrent callbacks.
    // `seen` increments LAST: a waiter that observes seen == N is
    // guaranteed the N-th event is already in the buffer (or counted
    // dropped/build-failed), so awaiting on seen then draining cannot race.
    if (buffered.incrementAndGet() <= maxBuffered) {
      try buf.add(make())
      catch {
        case _: Throwable => // never throw on the listener bus
          buffered.decrementAndGet()
          buildFailedN.incrementAndGet()
      }
    } else {
      buffered.decrementAndGet()
      droppedN.incrementAndGet()
    }
    seenN.incrementAndGet()
  }

  /** The fields both lifecycle events fill the same way: id, type, user,
    * engine and provenance, the read-side tables and their databases. */
  private def event(executionId: Long, eventType: EventType,
                    qe: Option[QueryExecution], reads: Seq[String]): QueryEvent =
    QueryEvent(
      QueryId = Some(s"${appId}_$executionId"),
      QueryType = qe.map(q => SparkCaptureListener.queryType(q.analyzed)),
      EventType = Some(eventType.name),
      ExecutionMode = Some(ExecutionMode.Spark_.name),
      ExecutionEngine = Some("spark"),
      RequestUser = Some(user),
      UserName = Some(user),
      TablesRead = reads,
      SessionId = qe.flatMap(q => Try(SqlEndShim.sessionUUID(q.sparkSession)).toOption),
      ThreadName = Some(Thread.currentThread().getName),
      HiveVersion = Some(org.apache.spark.SPARK_VERSION),
      ClientIpAddress = driverHost,
      HiveAddress = driverHost,
      YarnApplicationId = Some(appId),
      DatabasesRead = SparkCaptureListener.databasesOf(reads),
      DefaultDatabase = qe.flatMap(q =>
        Try(q.sparkSession.catalog.currentDatabase).toOption))

  /** The PRE event (reference `EventRecordConstructor.java:94-132`):
    * populated from what is knowable at submit time — id, user, start
    * time, query text (the action's call site plus the physical plan,
    * whose output aliases identify the query), type from the plan when the
    * in-flight execution is still registered, plus the session/provenance
    * surface the reference fills on PRE (Queue ← the session's
    * fair-scheduler pool conf, SessionId, DefaultDatabase, engine version,
    * driver address — reference `:118-130`). Read-side entities include
    * the database names (`getDatabasesFromEntitySet`, `:128`); partitions
    * need the executed physical plan, so they belong to the POST event
    * only (forcing physical planning on the listener bus thread is the one
    * thing a hook must never do). No end time, status, perf or counters —
    * those belong to the POST event. */
  private def submitted(st: SparkListenerSQLExecutionStart): QueryEvent = {
    // Opportunistic: the in-flight QueryExecution is registered for the
    // span of the execution; an already-finished one (fast query, slow
    // bus) just means plan-derived fields fall back to the event payload.
    val qe = Option(org.apache.spark.sql.execution.SQLExecution
      .getQueryExecution(st.executionId))
    val reads = qe.map(q => SparkCaptureListener.readTargets(q)).getOrElse(Nil)
    event(st.executionId, EventType.QuerySubmitted, qe, reads).copy(
      QueryText = Some((st.description + "\n" + st.physicalPlanDescription)
        .take(2048)),
      Queue = qe.flatMap(SparkCaptureListener.sessionPool),
      // sub-execution grouping: a root execution spawning nested ones is
      // the closest Spark analog of the reference's per-operation id
      OperationId = st.rootExecutionId.map(r => s"${appId}_$r"),
      StartTime = Some(new Timestamp(st.time)))
  }

  /** Driver host/IP (set once at install): the live hook runs embedded in
    * the driver, so the reference's client/server address pair both point
    * at it (`HiveAddress`/`ClientIpAddress`, reference `:121-126`). */
  @volatile private[capture] var driverHost: Option[String] = None

  /** The POST event (reference `EventRecordConstructor.java:134-172`),
    * extended with the full entity surface the reference captures on the
    * hook context: tables, PARTITIONS (the physical scan's pruned
    * listing + the write command's static partition spec) and DATABASES
    * on both the read and write side, plus Queue (the job's observed
    * fair-scheduler pool, the YARN-report dual of reference `:163-166`),
    * SessionId and DefaultDatabase. */
  private def completed(en: SparkListenerSQLExecutionEnd,
                        submitMs: Option[Long],
                        jobPool: Option[String]): QueryEvent = {
    val qe = Option(SqlEndShim.qe(en))
    // the engine posts errorMessage = Some("") on SUCCESS — blank ≠ failed
    val error: Option[Throwable] = SqlEndShim.failure(en)
      .orElse(en.errorMessage.filter(_.trim.nonEmpty).map(new RuntimeException(_)))
    val durNs = SqlEndShim.durationNs(en)
    val start = submitMs.getOrElse(
      if (durNs > 0) en.time - durNs / 1000000L else en.time)
    val reads = qe.map(SparkCaptureListener.readTargets).getOrElse(Nil)
    val writes = qe.map(SparkCaptureListener.writeTargets).getOrElse(Nil)
    val outputRows = qe.flatMap(q =>
      Try(q.executedPlan.metrics.get("numOutputRows").map(_.value))
        .toOption.flatten)
    val planTotals = qe.map(q => SparkCaptureListener.planCounters(q))
      .getOrElse(Nil)
    val counters = (Seq(
      Some(s""""durationMs": ${en.time - start}"""),
      outputRows.map(n => s""""outputRows": $n""")
    ).flatten ++ planTotals.map { case (k, v) => s""""$k": $v""" })
      .mkString("{", ", ", "}")
    event(en.executionId, EventType.QueryCompleted, qe, reads).copy(
      QueryText = qe.map(q => Try(q.analyzed.toString)
        .getOrElse(q.logical.toString).take(2048)),
      Queue = jobPool.orElse(qe.flatMap(SparkCaptureListener.sessionPool)),
      StartTime = Some(new Timestamp(start)),
      EndTime = Some(new Timestamp(en.time)),
      TablesWritten = writes,
      PartitionsRead = qe.map(SparkCaptureListener.partitionsRead)
        .getOrElse(Nil),
      PartitionsWritten = qe.map(SparkCaptureListener.partitionsWritten)
        .getOrElse(Nil),
      Status = Some(
        if (error.isEmpty) EventStatus.Success.name else EventStatus.Fail.name),
      ErrorMessage = error.map(e =>
        Option(e.getMessage).getOrElse(e.toString).take(2048)),
      PerfObject = qe.flatMap(SparkCaptureListener.perfObject),
      CountersObject = Some(counters),
      InvokerInfo = SqlEndShim.executionName(en),
      DatabasesWritten = SparkCaptureListener.databasesOf(writes))
  }
}

object SparkCaptureListener {

  /** Job tag marking the capture machinery's OWN Spark jobs (the drainer's
    * sink writes): executions carrying it are never captured. */
  val SelfTag = "graft.capture.self"

  /** One execution's tracked state: last activity time, submit time (None
    * when its Start was not seen), self-tag flag and job-observed pool. */
  private final case class Exec(atMs: Long, startMs: Option[Long],
                                self: Boolean, pool: Option[String])

  private[capture] val MaxTracked = 65536
  // Eviction drains to a LOW WATERMARK, not the cap: evicting to exactly
  // MaxTracked would re-trigger the full scan on the very next insert
  // under sustained saturation (all-young entries because Ends are being
  // lost), putting an O(MaxTracked) sweep on the listener bus thread per
  // Start. Draining a quarter of the map buys MaxTracked/4 cheap inserts
  // per sweep, so an insert is amortized O(1) in every regime.
  private val LowWatermark = MaxTracked - MaxTracked / 4
  private val StaleMs = 10L * 60 * 1000

  /** Evaluates `ready` every 50 ms until it holds or `timeoutMs` passes,
    * and returns its last value. The one wait for asynchronous delivery
    * (listener bus, drainer ticks, sink commits): a caller that drains
    * does so inside `ready`. */
  def awaitReady(timeoutMs: Long = 30000L)(ready: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = ready
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      ok = ready
    }
    ok
  }

  /** Attach a capture hook to the session's context (reference analog:
    * `hive.exec.post.hooks=MigrationAssessmentLoggingHook`). Returns the
    * listener; call `drain` (or [[SparkCaptureListener.drainUntil]]) to
    * collect and [[uninstall]] to detach. */
  def install(session: SparkSession,
              maxBuffered: Int = 8192): SparkCaptureListener = {
    val sc = session.sparkContext
    val l = new SparkCaptureListener(sc.applicationId, sc.sparkUser, maxBuffered)
    l.driverHost = sc.getConf.getOption("spark.driver.host")
    sc.addSparkListener(l)
    l
  }

  def uninstall(session: SparkSession, l: SparkCaptureListener): Unit =
    session.sparkContext.removeSparkListener(l)

  /** The reference's QueryType is the operation name of the statement
    * (HiveOperation — QUERY, CREATETABLE, DROPTABLE, …). Here the analyzed
    * plan's root carries the same information: a write command is an
    * INSERT, a DDL command maps to its operation name, anything that is
    * not a command at all is a plain QUERY. */
  def queryType(analyzed: LogicalPlan): String = {
    val n = analyzed.nodeName
    if (n.contains("CreateView")) "CREATEVIEW"
    else if (n.contains("Create") && n.contains("Table")) "CREATETABLE"
    else if (n.contains("Drop") && n.contains("Table")) "DROPTABLE"
    else if (n.contains("Alter") && n.contains("Table")) "ALTERTABLE"
    else if (n.contains("Insert") || n.contains("AppendData") ||
      n.contains("OverwriteByExpression") || n.contains("ReplaceData")) "INSERT"
    else if (analyzed.isInstanceOf[Command])
      // SetCommand → SET, ShowTablesCommand → SHOWTABLES, … — the same
      // upper-cased operation-name convention the reference records.
      n.stripSuffix("Command").toUpperCase(java.util.Locale.ROOT)
    else "QUERY"
  }

  /** Leaf relations → "tables read": catalog identifier when the relation
    * has one, else the file-source root path (the path IS the table name
    * of a pathed lakehouse — same normalization the assessment layer's
    * a11_source_parse mines). */
  def readTargets(qe: QueryExecution): Seq[String] =
    Try(qe.analyzed.collectLeaves().flatMap {
      case lr: LogicalRelation =>
        lr.catalogTable.map(_.qualifiedName).orElse(Some(lr.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.mkString(",")
          case other => other.toString.take(256)
        }))
      case r if r.nodeName == "DataSourceV2Relation" => Some(r.toString.take(256))
      case _ => None
    }.distinct).getOrElse(Nil)

  /** Write commands → "tables written": the TARGET's catalog-qualified
    * name or output path (reference `getTablesWritten`,
    * `EventRecordConstructor.java:116-117`) — never the command's class
    * name. Covers v1 file/catalog writes (`DataWritingCommand`), v2 writes
    * (`V2WriteCommand.table.name`), and falls back to scanning an unknown
    * write command's constructor args for a `CatalogTable` or Hadoop
    * `Path` rather than inventing a label. */
  def writeTargets(qe: QueryExecution): Seq[String] =
    Try(qe.analyzed.collect {
      case i: InsertIntoHadoopFsRelationCommand =>
        Seq(i.catalogTable.map(_.qualifiedName)
          .getOrElse(i.outputPath.toString))
      case v2: V2WriteCommand => Seq(v2.table.name)
      case c: DataWritingCommand => commandTargets(c)
      // plain CREATE TABLE (no AS SELECT) still creates a write entity in
      // the reference's hook context — record the created table
      case ct: org.apache.spark.sql.execution.command.CreateDataSourceTableCommand =>
        Seq(ct.table.qualifiedName)
    }.flatten.distinct).getOrElse(Nil)

  private def commandTargets(c: Command): Seq[String] =
    c.productIterator.toSeq.flatMap {
      case ct: CatalogTable => Seq(ct.qualifiedName)
      case Some(ct: CatalogTable) => Seq(ct.qualifiedName)
      case p: org.apache.hadoop.fs.Path => Seq(p.toString)
      case _ => Nil
    }.distinct

  /** Database components of catalog-qualified entity names — the live
    * analog of the reference's `getDatabasesFromEntitySet`
    * (`EventRecordConstructor.java:293-300`). Pathed lakehouse "tables"
    * (anything with a '/') have no database, exactly as a Hive path entity
    * has none. */
  def databasesOf(names: Seq[String]): Seq[String] =
    names.filter(n => !n.contains("/") && n.contains("."))
      // the component right above the table: `db.t` and `catalog.db.t`
      // both yield `db` (the reference records bare database names)
      .map(n => n.split('.').dropRight(1).last)
      .distinct

  /** Bound on partitions recorded per event: a scan touching a year of
    * hourly partitions must not turn one event record into megabytes —
    * the heat map downstream (A4) weighs by occurrence, and 1000 names
    * per query is already far past any assessment's resolution. */
  private val MaxPartitionsPerEvent = 1000

  /** Read-side partition entities — the reference's
    * `getPartitionsFromEntitySet` (`EventRecordConstructor.java:283-291`,
    * Hive complete names `db@table@p=v`): here, the PHYSICAL scan's pruned
    * partition listing, i.e. the partitions the engine actually decided to
    * read after static + dynamic pruning (strictly more faithful than the
    * reference's semantic-analyzer set, which predates pruning). Walked
    * through the AQE wrappers; the listing lazy vals were already forced
    * by the execution itself, so this never triggers file listing on the
    * listener bus thread for an executed scan. Scans whose listing was
    * NEVER forced (a stage AQE planned but skipped, e.g. pruned to empty)
    * are detected via the numFiles driver metric — set as a side effect
    * of computing the listing — and skipped entirely, so the fallback
    * can't start a driver-side file listing on the bus thread. */
  def partitionsRead(qe: QueryExecution): Seq[String] =
    Try {
      import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val out = Vector.newBuilder[String]
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case scan: FileSourceScanLike
            if scan.relation.partitionSchema.nonEmpty &&
              // listing-was-forced sentinel: setFilesNumAndSizeMetric SETS
              // filesSize (a size metric, init -1) on the driver when
              // (dynamically)selectedPartitions is computed, so isZero
              // flips false even for a pruned-to-zero-files listing
              // (numFiles.value would conflate that with never-forced);
              // still-zero means the scan never executed and forcing
              // either lazy val HERE would do the file listing.
              // SPARK-4.x COUPLING: the pruned-to-zero case
              // relies on SQLMetric.add promoting a -1-initialized metric
              // to 0 (verified in the pinned 4.1.2 jar); on Spark <= 3.5
              // add() does not promote, so there a zero-file listing would
              // read as never-forced and drop out of partitionsRead —
              // re-verify this sentinel before any backport
              scan.metrics.get("filesSize").exists(!_.isZero) =>
          val label = scan.tableIdentifier
            .map(t => (t.database.toSeq :+ t.table).mkString("@"))
            .getOrElse(scan.relation.location.rootPaths.mkString(","))
          val schema = scan.relation.partitionSchema
          val listing = Try(SqlEndShim.dynamicallySelectedPartitions(scan))
            .getOrElse(scan.selectedPartitions)
          val it = listing.filePartitionIterator
          var taken = 0
          while (it.hasNext && taken < MaxPartitionsPerEvent) {
            val part = it.next()
            out += s"$label@${renderPartitionSpec(schema, part.values)}"
            taken += 1
          }
        case node => node.children.foreach(walk)
      }
      walk(qe.executedPlan)
      out.result().distinct
    }.getOrElse(Nil)

  /** Write-side partition entities: the insert command's STATIC partition
    * spec (`INSERT ... PARTITION (day='2024-01-01')`), rendered in
    * partition-column order as Hive complete names. Dynamic-partition
    * writes surface only as the `dynamicPartsWritten` counter — Spark's
    * commit protocol does not retain the written partition VALUES for a
    * post-hoc listener, a documented divergence from the reference's
    * semantic-analyzer write set. */
  def partitionsWritten(qe: QueryExecution): Seq[String] =
    Try(qe.analyzed.collect {
      case i: InsertIntoHadoopFsRelationCommand if i.staticPartitions.nonEmpty =>
        val label = i.catalogTable
          .map(t => (t.identifier.database.toSeq :+ t.identifier.table)
            .mkString("@"))
          .getOrElse(i.outputPath.toString)
        val spec = i.partitionColumns
          .flatMap(c => i.staticPartitions.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c.name) => s"${c.name}=$v"
          })
          .mkString("/")
        s"$label@$spec"
    }.distinct).getOrElse(Nil)

  private def renderPartitionSpec(
      schema: org.apache.spark.sql.types.StructType,
      values: org.apache.spark.sql.catalyst.InternalRow): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val v = values.get(i, f.dataType)
      val scalaV = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, f.dataType)
      s"${f.name}=${if (scalaV == null) "__HIVE_DEFAULT_PARTITION__" else scalaV}"
    }.mkString("/")

  /** The session's fair-scheduler pool conf, when set — the Spark analog
    * of the reference's conf-derived queue name
    * (`retrieveSessionQueueName`, `EventRecordConstructor.java:182-193`).
    * The job-observed pool (from SparkListenerJobStart properties) takes
    * precedence on the POST event, exactly as the reference's YARN-report
    * queue overrides the conf guess. */
  def sessionPool(qe: QueryExecution): Option[String] =
    Try(qe.sparkSession.conf.getOption("spark.scheduler.pool"))
      .toOption.flatten

  /** The reference's CountersObject carries the engine's own execution
    * counters (MR/Tez counter groups, `EventRecordConstructor.java:158-166`
    * via O16/O17). The Spark analog is the executed plan's SQL metrics —
    * aggregated across ALL plan nodes, not just the root: files/bytes
    * touched by every scan and bytes moved by every exchange are the
    * numbers a migration assessment prices. Allowlist keyed by Spark's
    * stable metric names; summed per name; only nonzero totals emitted
    * (metrics exist with value 0 on unexecuted branches). */
  private val CounterMetricNames: Map[String, String] = Map(
    "numFiles" -> "filesRead",
    "filesSize" -> "bytesScanned",
    "shuffleBytesWritten" -> "shuffleBytesWritten",
    "recordsWritten" -> "recordsWritten",
    "numPartitions" -> "shufflePartitions",
    // dynamic-partition writes: the VALUES aren't retained post-commit
    // (see partitionsWritten), but the count is a plan metric
    "numParts" -> "dynamicPartsWritten")

  def planCounters(qe: QueryExecution): Seq[(String, Long)] =
    Try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val totals = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      // AQE nodes hide their physical subtree from TreeNode children —
      // descend through them explicitly or every scan metric is invisible.
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case node =>
          node.metrics.foreach { case (name, m) =>
            CounterMetricNames.get(name).foreach { key =>
              totals(key) = totals.getOrElse(key, 0L) + m.value
            }
          }
          node.children.foreach(walk)
      }
      walk(qe.executedPlan)
      CounterMetricNames.values.toSeq.distinct
        .flatMap(k => totals.get(k).filter(_ > 0).map(k -> _))
    }.getOrElse(Nil)

  /** O15's perf breakdown from the engine's own planning tracker:
    * `{phase: durationMs}` over parsing/analysis/optimization/planning —
    * the exact JSON shape `CaptureOps.perfJson` produces for batch logs.
    * Keys sorted so the JSON is deterministic. */
  def perfObject(qe: QueryExecution): Option[String] = {
    val phases = Try(qe.tracker.phases).getOrElse(Map.empty)
    if (phases.isEmpty) None
    else Some(phases.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${v.durationMs}""" }
      .mkString("{", ", ", "}"))
  }
}

/** Self-draining capture (reference `EventLogger.java:105-121,241-251` — a
  * daemon writer thread plus a ≤5 s shutdown flush, O27): owns a
  * [[SparkCaptureListener]] and a single-thread scheduler that periodically
  * drains the bounded buffer into the date-partitioned retrying sink
  * ([[graft.sink.EventSink.writeBatchWithRetry]], O22/O23). The sink writes
  * run under [[SparkCaptureListener.SelfTag]] so the hook never captures —
  * and then re-captures, forever — its own output. [[close]] (idempotent;
  * also registered as a JVM shutdown hook) stops the scheduler, lets the
  * events already posted to the listener bus arrive, flushes the residue
  * exactly once, and detaches the listener. */
final class CaptureDrainer(session: SparkSession, sinkPath: String,
                           intervalMs: Long = 5000L, maxBuffered: Int = 8192,
                           sink: Option[DataFrame => Unit] = None)
    extends AutoCloseable {

  /** Where a drained batch goes: the date-partitioned retrying parquet
    * sink by default, or a caller-supplied function — e.g. a
    * reference-format [[graft.sink.DatePartitionedAvroWriter]]'s
    * `writeFrame` (the live multi-day rollover path), or a network
    * forwarder. Runs under the self-tag either way. */
  private val sinkFn: DataFrame => Unit = sink.getOrElse(df =>
    graft.sink.EventSink.writeBatchWithRetry(df, sinkPath))

  val listener: SparkCaptureListener =
    SparkCaptureListener.install(session, maxBuffered)
  listener.selfPathHint = Some(sinkPath) // backstop if a tagged Start is dropped

  /** Batches flushed to the sink so far (empty drains not counted). */
  private val flushedBatches = new AtomicLong(0L)
  def flushed: Long = flushedBatches.get()

  /** Sink writes that failed even after the retry budget. The drained
    * batch is handed BACK to the listener's bounded buffer (overflow
    * counts in its `dropped`) and retried on the next tick — a transient
    * outage longer than one retry budget delays capture instead of
    * silently deleting it. */
  private val writeFailedN = new AtomicLong(0L)
  def writeFailed: Long = writeFailedN.get()

  private val closed = new AtomicBoolean(false)
  private val exec = Executors.newSingleThreadScheduledExecutor(
    new ThreadFactory {
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-capture-drainer")
        t.setDaemon(true)
        t
      }
    })
  exec.scheduleWithFixedDelay(() => Try(drainOnce()),
    intervalMs, intervalMs, TimeUnit.MILLISECONDS)

  private val shutdownHook = sys.addShutdownHook(close())

  /** Serialized: the scheduler and a concurrent `close()` must not
    * interleave two sink writes of overlapping drains. */
  private def drainOnce(): Unit = synchronized {
    val events = listener.drain()
    if (events.nonEmpty) {
      val sc = session.sparkContext
      sc.addJobTag(SparkCaptureListener.SelfTag)
      try {
        import session.implicits._
        sinkFn(session.createDataset(events).toDF())
        flushedBatches.incrementAndGet()
        ()
      } catch {
        case e: Throwable =>
          // exhausted the retry budget: count it loudly and hand the batch
          // back for the next tick — never drop a drained batch on the
          // floor (at JVM exit a still-failing sink leaves writeFailed > 0
          // and the residue in the buffer, which is the honest outcome)
          writeFailedN.incrementAndGet()
          listener.requeue(events)
      } finally sc.removeJobTag(SparkCaptureListener.SelfTag)
    }
  }

  override def close(): Unit = if (closed.compareAndSet(false, true)) {
    exec.shutdown()
    exec.awaitTermination(5, TimeUnit.SECONDS) // the reference's ≤5 s bound
    // An execution that ended before close() may still have its events
    // queued on the listener bus: let them reach the listener (bounded) so
    // the final flush carries them, instead of leaving them un-flushed.
    Try(SqlEndShim.awaitListenerBus(session.sparkContext,
      CaptureDrainer.BusDrainTimeoutMs))
    // Final residue flush on a BOUNDED daemon thread: close() runs as a
    // JVM shutdown hook, and an unreachable sink would otherwise block
    // shutdown for the whole Spark-write + retry budget (the reference's
    // writer thread has the same ≤5 s discipline; our flush is a Spark
    // job, so it gets a wider but still finite bound). On timeout the
    // events stay in the buffer and writeFailed tells the story.
    val t = new Thread(() => { Try(drainOnce()); () }, "graft-capture-final-flush")
    t.setDaemon(true)
    t.start()
    t.join(CaptureDrainer.CloseFlushTimeoutMs)
    if (t.isAlive) {
      // The flush overran its bound: interrupt it BEFORE uninstalling the
      // listener so the in-flight self-tagged write doesn't race the
      // detach, and give the interrupt a moment to land.
      t.interrupt()
      t.join(500)
      System.err.println(
        s"[graft-capture] final flush exceeded ${CaptureDrainer.CloseFlushTimeoutMs} ms " +
          "and was interrupted; un-flushed events remain buffered")
    }
    SparkCaptureListener.uninstall(session, listener)
    val residue = listener.pending
    if (residue > 0 || writeFailed > 0) {
      // Loss must be loud at close, not discoverable only by counter
      // polling: say exactly what stayed behind.
      System.err.println(
        s"[graft-capture] drainer closed with $residue events un-flushed " +
          s"(writeFailed=$writeFailed, dropped=${listener.dropped})")
    }
    Try(shutdownHook.remove())
    ()
  }
}

object CaptureDrainer {
  /** Bound on the close-time residue flush (a Spark job, so wider than the
    * reference's 5 s writer-thread bound, but still finite). */
  private val CloseFlushTimeoutMs = 10000L

  /** Bound on the close-time wait for events still queued on the bus. */
  private val BusDrainTimeoutMs = 5000L
}
