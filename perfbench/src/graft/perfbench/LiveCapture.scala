package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.capture.CaptureDrainer
import graft.sink.EventSink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The live capture hook as a deployment installs it: a `CaptureDrainer`
  * on the default date-partitioned parquet sink, whose public `sink`
  * argument is wrapped to time each flush and to record, per completed
  * event, the lag from its `EndTime` to the return of the write that made
  * it durable. An [[ExecutionLedger]] on the same listener queue is the
  * ground truth the read-back log is checked against. */
final class LiveCapture(spark: SparkSession, val sinkPath: String,
                        maxBuffered: Int, tracer: Tracer) {
  val lagMs = new ConcurrentLinkedQueue[java.lang.Double]
  val flushMs = new ConcurrentLinkedQueue[java.lang.Double]
  val flushEvents = new ConcurrentLinkedQueue[java.lang.Long]

  private def write(df: DataFrame): Unit = tracer.span("sink.flush") {
    val rows = df.select(col("EventType"), col("EndTime")).collect()
    val t0 = System.nanoTime()
    EventSink.writeBatchWithRetry(df, sinkPath)
    val done = System.currentTimeMillis()
    flushMs.add((System.nanoTime() - t0) / 1e6)
    flushEvents.add(rows.length.toLong)
    rows.foreach { r =>
      if (r.getString(0) == "QUERY_COMPLETED" && !r.isNullAt(1))
        lagMs.add((done - r.getTimestamp(1).getTime).toDouble)
    }
  }

  val ledger = new ExecutionLedger
  spark.sparkContext.addSparkListener(ledger)
  val drainer = new CaptureDrainer(spark, sinkPath, maxBuffered = maxBuffered,
    sink = Some(write))

  var closeFlushMs = 0.0
  var pendingAtClose = 0
  var lostFrac = 0.0

  /** Waits until the capture listener has seen every lifecycle callback the
    * ledger saw (both sit on the shared listener queue), then closes the
    * drainer, which flushes the residue. */
  def close(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (drainer.listener.seen < ledger.callbacks && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    val t0 = System.nanoTime()
    tracer.span("capture.close")(drainer.close())
    closeFlushMs = (System.nanoTime() - t0) / 1e6
    pendingAtClose = drainer.listener.pending
    spark.sparkContext.removeSparkListener(ledger)
  }

  /** Reads the log back and checks it against the ledger. Returns the
    * check failures and the fraction of expected events lost. */
  def verify(planted: String => Boolean): (Seq[String], Double) = {
    val appId = spark.sparkContext.applicationId
    val expected = ledger.started.asScala.map { case (id, d) => s"${appId}_$id" -> d }.toMap
    val got = EventSink.read(spark, sinkPath)
      .select("QueryId", "EventType", "Status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val byId = got.groupBy(_._1)
    val errs = Seq.newBuilder[String]
    var missing = 0L
    expected.foreach { case (qid, desc) =>
      val evs = byId.getOrElse(qid, Nil)
      val sub = evs.count(_._2 == "QUERY_SUBMITTED")
      val com = evs.filter(_._2 == "QUERY_COMPLETED")
      missing += (if (sub == 0) 1 else 0) + (if (com.isEmpty) 1 else 0)
      if (sub != 1 || com.size != 1)
        errs += s"capture: $qid ($desc) has $sub SUBMITTED and ${com.size} COMPLETED events"
      else if ((com.head._3 == "FAIL") != planted(desc))
        errs += s"capture: $qid ($desc) has Status=${com.head._3}, planted=${planted(desc)}"
    }
    val extra = byId.keySet -- expected.keySet
    if (extra.nonEmpty) errs += s"capture: ${extra.size} logged QueryIds no execution issued"
    val l = drainer.listener
    val counted = l.dropped + l.buildFailed + pendingAtClose
    Seq("dropped" -> l.dropped, "buildFailed" -> l.buildFailed,
      "writeFailed" -> drainer.writeFailed, "pending" -> pendingAtClose.toLong)
      .filter(_._2 != 0).foreach { case (k, v) => errs += s"capture: $k = $v" }
    val lost = math.max(missing, counted)
    lostFrac = if (expected.isEmpty) 0.0 else lost.toDouble / (2 * expected.size)
    (errs.result(), lostFrac)
  }

  /** The `capture.*` and `sink.*` per-layer metrics of the run. */
  def layerMetrics(busQueueMax: Double): Map[String, Double] = {
    val files = Option(new java.io.File(sinkPath).listFiles()).toSeq.flatten
      .filter(_.isDirectory).flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    val flush = flushMs.asScala.map(_.doubleValue).toSeq
    val perFlush = flushEvents.asScala.map(_.doubleValue).toSeq
    val lag = lagMs.asScala.map(_.doubleValue).toSeq
    val l = drainer.listener
    Map(
      "capture.events_seen" -> l.seen.toDouble,
      "capture.events_dropped" -> l.dropped.toDouble,
      "capture.build_failed" -> l.buildFailed.toDouble,
      "capture.pending_at_close" -> pendingAtClose.toDouble,
      "capture.bus_ms_per_event" -> Jvm.sparkMetric(
        "listenerProcessingTime.graft.capture.SparkCaptureListener", "Mean").getOrElse(0.0),
      "capture.bus_queue_max" -> busQueueMax,
      "capture.lag_p50_ms" -> Stats.pct(lag, 0.5),
      "capture.lag_p90_ms" -> Stats.pct(lag, 0.9),
      "capture.events_lost_frac" -> lostFrac,
      "sink.flushes" -> flush.size.toDouble,
      "sink.flush_ms_p50" -> Stats.pct(flush, 0.5),
      "sink.flush_ms_max" -> (if (flush.isEmpty) 0.0 else flush.max),
      "sink.events_per_flush" -> (if (perFlush.isEmpty) 0.0 else perFlush.sum / perFlush.size),
      "sink.write_failed" -> drainer.writeFailed.toDouble,
      "sink.files_written" -> files.size.toDouble,
      "sink.bytes_per_event" -> (if (perFlush.sum > 0) files.map(_.length).sum / perFlush.sum else 0.0),
      "sink.close_flush_ms" -> closeFlushMs)
  }
}
