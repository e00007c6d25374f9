package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.Graft

/** The benchmark's JVM side: one workload, one seed, one timed window.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --run-dir <dir> --result <file> [--max-buffered <n>]
  * Main --workload <name> --seed <n> --describe      (inputs only, no Spark)
  * Main --list-metrics <0|1>
  * }}}
  *
  * Untraced (`--trace 0`), it reports the end-to-end metrics. Traced, it
  * alternates untraced and traced segments of the same window and reports
  * the per-layer metrics, layer self times from the spans, and the tracing
  * overhead (traced minus untraced mean operation latency). */
object Main {

  val EndToEndUnits: Seq[(String, String)] = Seq("setup_s" -> "s",
    "items_per_s" -> "items/s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "rss_peak_mb" -> "MB")
  val EndToEnd: Seq[String] = EndToEndUnits.map(_._1)

  /** Per-layer metrics and units. `spark.*`, `jvm.*` and `stream.*` values
    * cover traced segments (`spark.*` per operation run in them); `capture.*`
    * and `sink.*` cover the whole run. A layer a workload leaves idle reads 0. */
  val PerLayerUnits: Seq[(String, String)] = Seq(
    "capture.events_seen" -> "count", "capture.events_dropped" -> "count",
    "capture.build_failed" -> "count", "capture.pending_at_close" -> "count",
    "capture.bus_ms_per_event" -> "ms", "capture.bus_queue_max" -> "count",
    "capture.lag_p50_ms" -> "ms", "capture.lag_p90_ms" -> "ms", "capture.events_lost_frac" -> "fraction",
    "sink.flushes" -> "count", "sink.flush_ms_p50" -> "ms", "sink.flush_ms_max" -> "ms",
    "sink.events_per_flush" -> "count", "sink.write_failed" -> "count",
    "sink.files_written" -> "count", "sink.bytes_per_event" -> "B",
    "sink.close_flush_ms" -> "ms", "sink.avro_write_s" -> "s",
    "sink.avro_bytes_per_event" -> "B", "sink.avro_files" -> "count",
    "sink.avro_read_s" -> "s", "sink.avro_decode_events_per_s" -> "events/s",
    "assess.query_log_s" -> "s", "assess.workload_report_s" -> "s",
    "assess.template_mining_s" -> "s", "assess.readiness_s" -> "s",
    "assess.latency_drift_s" -> "s",
    "ext.jaccard_ngram_s" -> "s", "ext.minhash_multiband_s" -> "s",
    "ext.curate_corpus_s" -> "s", "ext.stream_neardup_s" -> "s",
    "ext.candidate_pairs" -> "count", "ext.pairs_out" -> "count", "ext.pair_yield" -> "fraction",
    "stream.batches" -> "count", "stream.batch_ms_p50" -> "ms", "stream.state_rows_max" -> "count",
    "spark.analysis_ms" -> "ms/op", "spark.optimization_ms" -> "ms/op",
    "spark.planning_ms" -> "ms/op", "spark.jobs" -> "jobs/op", "spark.stages" -> "stages/op",
    "spark.tasks" -> "tasks/op", "spark.task_run_s" -> "s/op", "spark.task_cpu_s" -> "s/op",
    "spark.shuffle_read_mb" -> "MB/op", "spark.shuffle_write_mb" -> "MB/op",
    "spark.spill_mb" -> "MB/op", "spark.core_busy_frac" -> "fraction",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "self.bench_s" -> "s", "self.spark_s" -> "s", "self.capture_s" -> "s",
    "self.sink_s" -> "s", "self.assess_s" -> "s", "self.ext_s" -> "s",
    "trace.overhead_ms" -> "ms")
  val PerLayer: Seq[String] = PerLayerUnits.map(_._1)

  private val Units = (EndToEndUnits ++ PerLayerUnits).toMap
  def unit(n: String): String = Units(n)

  /** Set-up repetitions per run; `setup_s` counts their median. */
  val SetupReps = 3

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    arg(args, "--list-metrics").foreach { t =>
      (if (t == "1") PerLayer else EndToEnd).foreach(n => println(s"$n ${unit(n)}"))
      return
    }
    val w = arg(args, "--workload").flatMap(Workloads.byName).getOrElse {
      System.err.println(s"unknown --workload; expected one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    if (args.contains("--describe")) {
      println(json(w.describe(seed) + ("workload" -> w.name) + ("seed" -> seed)))
      return
    }
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val runDir = new File(arg(args, "--run-dir").getOrElse {
      System.err.println("--run-dir is required"); sys.exit(2)
    })
    val result = new File(arg(args, "--result").getOrElse(new File(runDir, "result.json").getPath))
    val maxBuffered = arg(args, "--max-buffered").map(_.toInt).getOrElse(8192)
    runDir.mkdirs()
    val code = try run(w, seed, seconds, traced, runDir, result, maxBuffered)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        3
    }
    // Spark and the drainer leave non-daemon threads; the result is on disk
    Runtime.getRuntime.halt(code)
  }

  private def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                  runDir: File, result: File, maxBuffered: Int): Int = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Graft.session(s"perfbench-${w.name}", cores)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val tracer = new Tracer(false, s"${w.name}-$seed-${spark.sparkContext.applicationId}")
    val ctx = new Ctx(spark, seed, tracer, traced)

    val setups = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(ctx, new File(runDir, s"input-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val capture = if (w.captured) Some(new LiveCapture(spark,
      new File(runDir, "capture-log").getPath, maxBuffered, tracer)) else None
    val tw = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(setups) + warmupS

    // traced-segment probes: attached only while a traced segment runs
    val counters = new SparkCounters
    var gauge: Option[Jvm.GaugeMax] = None
    var busQueueMax = 0.0
    var tracedS, gcMs, jitMs = 0.0
    var segStart, gc0, jit0 = 0L
    def toggle(on: Boolean): Unit = if (traced && on != tracer.on) {
      if (on) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        gauge = Some(new Jvm.GaugeMax(() => Jvm.sparkMetric("LiveListenerBus.queue.shared.size", "Value"), 10))
        segStart = System.nanoTime(); gc0 = Jvm.gcMs; jit0 = Jvm.jitMs
        tracer.on = true
      } else {
        tracer.on = false
        tracedS += (System.nanoTime() - segStart) / 1e9
        gcMs += Jvm.gcMs - gc0; jitMs += Jvm.jitMs - jit0
        gauge.foreach(g => busQueueMax = math.max(busQueueMax, g.stop()))
        spark.listenerManager.unregister(counters)
        spark.sparkContext.removeSparkListener(counters)
      }
    }
    w.run(ctx, seconds, toggle)
    val lostFrac = capture.map { c =>
      tracer.on = traced
      c.close()
      tracer.on = false
      val (errs, lost) = c.verify(w.planted)
      errs.foreach(e => ctx.check(ok = false, e))
      ctx.check(lost == 0.0, f"capture: events_lost_frac = $lost%.4f")
      lost
    }
    if (traced) capture.foreach { c =>
      tracer.on = true
      AnalystProbe.run(ctx, c, new File(runDir, "avro-log").getPath, w.planted)
      tracer.on = false
    }

    val ops = ctx.ops.asScala.toSeq
    val metrics: Seq[(String, Double)] = if (!traced) Seq(
      "setup_s" -> setupS,
      "items_per_s" -> ctx.itemsPerS,
      "op_p50_ms" -> Stats.pct(ops.map(_.ms), 0.5),
      "op_p90_ms" -> Stats.pct(ops.map(_.ms), 0.9),
      "rss_peak_mb" -> Jvm.rssPeakMb)
    else {
      val l = ctx.layer.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val perOp = math.max(1, ops.count(_.tracedMode)).toDouble
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val self = tracer.selfSeconds
      val cand = l.getOrElse("ext.candidate_pairs", 0.0)
      val base = capture.map(_.layerMetrics(busQueueMax)).getOrElse(Map.empty) ++ Map(
        "ext.pair_yield" -> (if (cand > 0) l.getOrElse("ext.pairs_out", 0.0) / cand else 0.0),
        "stream.batches" -> counters.batchMs.size.toDouble,
        "stream.batch_ms_p50" -> Stats.pct(counters.batchMs.asScala.map(_.doubleValue).toSeq, 0.5),
        "stream.state_rows_max" -> counters.stateRowsMax.get.toDouble,
        "spark.analysis_ms" -> counters.phaseMs.getOrDefault("analysis", 0L) / perOp,
        "spark.optimization_ms" -> counters.phaseMs.getOrDefault("optimization", 0L) / perOp,
        "spark.planning_ms" -> counters.phaseMs.getOrDefault("planning", 0L) / perOp,
        "spark.jobs" -> counters.jobs.get / perOp,
        "spark.stages" -> counters.stages.get / perOp,
        "spark.tasks" -> counters.tasks.get / perOp,
        "spark.task_run_s" -> counters.runMs.get / 1e3 / perOp,
        "spark.task_cpu_s" -> counters.cpuNs.get / 1e9 / perOp,
        "spark.shuffle_read_mb" -> counters.shuffleRead.get / 1048576.0 / perOp,
        "spark.shuffle_write_mb" -> counters.shuffleWrite.get / 1048576.0 / perOp,
        "spark.spill_mb" -> counters.spill.get / 1048576.0 / perOp,
        "spark.core_busy_frac" -> (if (tracedS > 0) counters.runMs.get / 1e3 / (tracedS * cores) else 0.0),
        "jvm.gc_s" -> gcMs / 1e3,
        "jvm.jit_s" -> jitMs / 1e3,
        "trace.overhead_ms" -> (mean(ops.filter(_.tracedMode).map(_.ms)) -
          mean(ops.filterNot(_.tracedMode).map(_.ms)))
      ) ++ Seq("bench", "spark", "capture", "sink", "assess", "ext")
        .map(k => s"self.${k}_s" -> self.getOrElse(k, 0.0))
      PerLayer.map(n => n -> base.getOrElse(n, l.getOrElse(n, 0.0)))
    }

    if (traced) tracer.write(new File(runDir, "spans.jsonl"))
    val errors = ctx.errors.asScala.toSeq
    errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    val record = ListMap("workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "inputs" -> w.describe(seed), "operations" -> ops.size,
      "lag_samples" -> capture.map(_.lagMs.size).getOrElse(0),
      "window_s" -> ctx.windowS, "op_ms" -> ops.map(_.ms), "setup_reps_s" -> setups,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "events_lost_frac" -> lostFrac.getOrElse(0.0),
      "ops_failed_frac" -> ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get),
      "errors" -> errors.take(20))
    val out = ListMap("correct" -> errors.isEmpty, "attempted" -> math.max(1L, ctx.attempted.get),
      "failed" -> ctx.failed.get,
      "metrics" -> ListMap(metrics.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> unit(k)) }: _*))
    val wr = new java.io.PrintWriter(result, "UTF-8")
    try { wr.println("record " + json(record)); wr.println(json(out)) } finally wr.close()
    if (errors.isEmpty) 0 else 1
  }
}
