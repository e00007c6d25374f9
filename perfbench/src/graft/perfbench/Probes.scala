package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Percentile, q in [0, 1], interpolated between the two nearest ranks. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = h.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Spans recorded from the benchmark's own files around each call into a
  * layer: name, start, end, parent span and run id, kept in memory and
  * written out when the run ends. A span's layer is its name up to the
  * first dot. Disabled, `span` is a plain call. */
final case class Span(id: Int, parent: Int, name: String, thread: String,
                      startNs: Long, endNs: Long)

final class Tracer(@volatile var on: Boolean, runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, Thread.currentThread().getName, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  /** Seconds of self time per layer: each span's duration minus the part
    * its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "thread": "${s.thread}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

/** Ground truth for the capture check: every SQL execution the context
  * starts and ends, except the capture machinery's own self-tagged writes,
  * with its description (the client's statement tag). */
final class ExecutionLedger extends SparkListener {
  val started = new ConcurrentHashMap[java.lang.Long, String]
  val ended = ConcurrentHashMap.newKeySet[java.lang.Long]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case st: SparkListenerSQLExecutionStart
        if !st.jobTags.contains(graft.capture.SparkCaptureListener.SelfTag) =>
      started.put(st.executionId, Option(st.description).getOrElse(""))
      ()
    case en: SparkListenerSQLExecutionEnd if started.containsKey(en.executionId) =>
      ended.add(en.executionId)
      ()
    case _ => ()
  }

  /** Lifecycle callbacks a capture listener on the same queue must see. */
  def callbacks: Long = started.size.toLong + ended.size
}

/** Job, stage, task, shuffle, spill and streaming-progress counters from a
  * `SparkListener`, and Catalyst phase times from a `QueryExecutionListener`. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill =
    new AtomicLong(0L)
  val phaseMs = new ConcurrentHashMap[String, Long]
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]
  val stateRowsMax = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
    ()
  }
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      Option(pr.durationMs.get("triggerExecution")).foreach(d => batchMs.add(d))
      pr.stateOperators.foreach(o => stateRowsMax.accumulateAndGet(o.numRowsTotal, math.max))
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (k, v) => phaseMs.merge(k, v.durationMs, _ + _) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

/** Values read through the JVM's management beans: GC and JIT time, peak
  * resident set, and the Spark metrics Spark publishes over its JMX sink. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** `VmHWM` of this process, in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Attribute `attr` of the first Spark JMX metric whose name ends in
    * `suffix` (the metric name carries the application id as a prefix). */
  def sparkMetric(suffix: String, attr: String): Option[Double] = {
    val server = ManagementFactory.getPlatformMBeanServer
    server.queryNames(new javax.management.ObjectName("metrics:*"), null).asScala
      .find(n => Option(n.getKeyProperty("name")).exists(_.endsWith(suffix)))
      .flatMap(n => scala.util.Try(server.getAttribute(n, attr)).toOption)
      .collect { case v: java.lang.Number => v.doubleValue() }
  }

  /** Samples a gauge on a daemon thread and keeps its maximum. */
  final class GaugeMax(read: () => Option[Double], everyMs: Long) {
    @volatile private var running = true
    @volatile var max = 0.0
    private val t = new Thread(() => {
      while (running) {
        read().foreach(v => if (v > max) max = v)
        Thread.sleep(everyMs)
      }
    }, "perfbench-gauge")
    t.setDaemon(true)
    t.start()
    def stop(): Double = { running = false; t.join(); max }
  }
}

/** Pair-generator output rows of the executions a block ran, read from the
  * SQL status store's plan graph (the `numOutputRows` of the Generate node
  * that expands posting lists into candidate pairs). */
object PlanMetrics {
  def lastExecutionId(spark: SparkSession): Long =
    spark.sharedState.statusStore.executionsList().map(_.executionId)
      .foldLeft(-1L)(math.max)

  def pairGeneratorRows(spark: SparkSession, afterId: Long): Long = {
    val store = spark.sharedState.statusStore
    store.executionsList().filter(_.executionId > afterId).map { ex =>
      val metrics = store.executionMetrics(ex.executionId)
      store.planGraph(ex.executionId).allNodes
        .filter(n => n.name == "Generate" && n.desc.contains("slice"))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => metrics.get(m.accumulatorId))
        .map(v => v.replaceAll("[^0-9]", "")).filter(_.nonEmpty)
        .map(_.toLong).sum
    }.sum
  }
}
