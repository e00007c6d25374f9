package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.assess.Migration
import graft.sink.{AvroEventSink, EventSink}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation: latency, and whether tracing was on. */
final case class Op(ms: Double, tracedMode: Boolean)

/** What a workload hands back to [[Main]] after its timed window. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
                val traced: Boolean) {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
  val attempted = new java.util.concurrent.atomic.AtomicLong(0L)
  val failed = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Per-layer values a workload measures itself (others default to 0). */
  val layer = new java.util.concurrent.ConcurrentHashMap[String, Double]
  /** Items (statements, corpus docs) per second of the window. */
  var itemsPerS = 0.0
  var windowS = 0.0

  def fail(msg: String): Unit = { errors.add(msg); failed.incrementAndGet(); () }
  def check(ok: Boolean, msg: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
  }
  def addLayer(k: String, v: Double): Unit = { layer.merge(k, v, _ + _); () }

  /** Sets the statement tag the capture check keys on. */
  def tag(t: String): Unit = spark.sparkContext.setJobDescription(s"pb:$t")
}

trait Workload {
  def name: String
  /** Generates the seeded inputs (no Spark) and returns their record. */
  def describe(seed: Long): Map[String, Any]
  /** Generates the inputs and lands them under `dir`; run several times. */
  def setup(ctx: Ctx, dir: File): Unit
  def warmup(ctx: Ctx): Unit
  /** The timed window. `toggle(traced)` is called whenever the workload
    * switches between untraced and traced segments of a traced run. */
  def run(ctx: Ctx, seconds: Double, toggle: Boolean => Unit): Unit
  /** Whether the live capture hook is installed for this workload. */
  def captured: Boolean = false
  def planted(desc: String): Boolean = false
}

// ------------------------------------------------------------------ capture_live

/** Two client threads in a closed loop of short SQL statements, with the
  * capture hook live. */
object CaptureLiveWorkload extends Workload {
  val name = "capture_live"
  val Clients = 2
  val WarmupStmts = 25

  private var in: Inputs.CaptureInputs = _
  private val next = new Array[Int](Clients)

  def describe(seed: Long): Map[String, Any] = {
    val i = Inputs.CaptureInputs(seed, Clients)
    Map("fingerprint" -> i.fingerprint, "loop" -> "closed", "clients" -> Clients,
      "statements_per_client" -> Inputs.CaptureInputs.StmtsPerClient,
      "sales_tables" -> Inputs.CaptureInputs.SalesTables,
      "rows_per_table" -> Inputs.CaptureInputs.RowsPerTable,
      "partitions_per_table" -> Inputs.CaptureInputs.Days.size,
      "planted_failure_share" -> i.clients.flatten.count(_.planted).toDouble / i.clients.flatten.size)
  }

  def setup(ctx: Ctx, dir: File): Unit = {
    in = Inputs.CaptureInputs(ctx.seed, Clients)
    ctx.tag("setup")
    ctx.spark.sql(s"DROP DATABASE IF EXISTS ${Inputs.CaptureInputs.Db} CASCADE")
    in.setupSql.foreach(ctx.spark.sql)
  }

  override def captured: Boolean = true
  override def planted(desc: String): Boolean = desc.endsWith(":fail")

  private def exec(ctx: Ctx, c: Int, i: Int): Unit = {
    val st = in.clients(c)(i)
    ctx.attempted.incrementAndGet()
    ctx.tag(s"c$c:$i:${st.kind}")
    val err = try {
      ctx.tracer.span("spark.statement") {
        val df = ctx.spark.sql(st.sql)
        if (st.kind == "agg" || st.kind == "join" || st.kind == "fail") df.collect()
      }
      None
    } catch { case e: Exception => Some(e) }
    (err, st.planted) match {
      case (Some(e), false) => ctx.fail(s"c$c:$i ${st.kind}: unplanted failure: $e")
      case (None, true) => ctx.fail(s"c$c:$i: planted failure did not fail")
      case _ => ()
    }
  }

  private def clients(ctx: Ctx, body: Int => Unit): Unit = {
    val ts = (0 until Clients).map(c => new Thread(() => body(c), s"perfbench-client-$c"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  def warmup(ctx: Ctx): Unit = clients(ctx, c =>
    while (next(c) < WarmupStmts) { exec(ctx, c, next(c)); next(c) += 1 })

  def run(ctx: Ctx, seconds: Double, toggle: Boolean => Unit): Unit = {
    @volatile var tracedMode = false
    @volatile var stop = false
    val t0 = System.nanoTime()
    val done = new java.util.concurrent.atomic.AtomicLong(0L)
    val loop = new Thread(() => clients(ctx, c =>
      while (!stop && next(c) < in.clients(c).size) {
        val m = tracedMode
        val s0 = System.nanoTime()
        exec(ctx, c, next(c))
        ctx.ops.add(Op((System.nanoTime() - s0) / 1e6, m))
        done.incrementAndGet()
        next(c) += 1
      }), "perfbench-clients")
    loop.start()
    // a traced run alternates untraced and traced quarters of the window
    val segments = if (ctx.traced) 4 else 1
    (0 until segments).foreach { k =>
      val m = ctx.traced && k % 2 == 1
      toggle(m)
      tracedMode = m
      val end = t0 + ((k + 1) * seconds / segments * 1e9).toLong
      while (System.nanoTime() < end && loop.isAlive) Thread.sleep(5)
    }
    stop = true
    loop.join()
    ctx.windowS = (System.nanoTime() - t0) / 1e9
    toggle(false)
    ctx.itemsPerS = done.get() / ctx.windowS
  }
}

// ------------------------------------------------------------ analyst probe

/** The analyst's path over the log the capture hook wrote, run after the
  * window of a traced `capture_live` run: the log is landed again in the
  * reference Avro layout, read back, and the four live reports run over
  * `liveQueryLog` of it. Each step is timed as a per-layer metric, and the
  * workload report must count what the ledger saw. */
object AnalystProbe {
  private def timed[T](ctx: Ctx, span: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = ctx.tracer.span(span)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx, capture: LiveCapture, avroPath: String,
          planted: String => Boolean): Unit = {
    val spark = ctx.spark
    ctx.tag("assess:probe")
    val (_, writeS) = timed(ctx, "sink.avro_write")(
      AvroEventSink.write(EventSink.readAsEvents(spark, capture.sinkPath), avroPath, "pb"))
    val files = Option(new File(avroPath).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".avro"))
    val (n, readS) = timed(ctx, "sink.avro_read")(AvroEventSink.readAsFrame(spark, avroPath).count())
    def log: DataFrame = Migration.liveQueryLog(AvroEventSink.readAsFrame(spark, avroPath))
    val (_, logS) = timed(ctx, "assess.query_log")(log.count())
    val reports = Seq[(String, DataFrame => DataFrame)](
      "workload_report" -> Migration.liveWorkloadReport,
      "template_mining" -> Migration.templateMiningOver,
      "readiness" -> Migration.liveReadinessScorecard,
      "latency_drift" -> Migration.liveLatencyDrift)
    val rows = reports.map { case (k, f) =>
      val (r, sec) = timed(ctx, s"assess.$k")(f(log).collect().toSeq)
      ctx.layer.put(s"assess.${k}_s", sec)
      k -> r
    }.toMap
    Seq("sink.avro_write_s" -> writeS, "sink.avro_files" -> files.size.toDouble,
      "sink.avro_bytes_per_event" -> files.map(_.length).sum.toDouble / math.max(1L, n),
      "sink.avro_read_s" -> readS, "sink.avro_decode_events_per_s" -> n / readS,
      "assess.query_log_s" -> logS).foreach { case (k, v) => ctx.layer.put(k, v) }
    val descs = capture.ledger.started.values.asScala.toSeq
    val fails = descs.count(planted)
    val wr = rows("workload_report")
    ctx.check(wr.size == 1 && wr.head.getAs[Long]("n_queries") == descs.size &&
      math.abs(wr.head.getAs[Double]("fail_rate") -
        BigDecimal(fails.toDouble / descs.size + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"workload_report: ${wr.mkString("; ")}, ledger ${descs.size} executions, $fails planted failures")
  }
}

// ------------------------------------------------------------------ dedup_corpus

/** Four corpus operators through `SparkEntry.queries` over a seeded
  * documents table with planted near-duplicate clusters. One pass of the
  * four is one timed operation; each call's mean time is a per-layer
  * metric. Passes repeat until the window ends (alternating untraced and
  * traced in a traced run), after one untimed pass. */
object DedupCorpusWorkload extends Workload {
  val name = "dedup_corpus"
  val LshMinJaccard = 0.85
  private val queryOf = Seq("jaccard_ngram" -> "x_jaccard_ngram",
    "minhash_multiband" -> "x_minhash_pairs_multiband",
    "curate_corpus" -> "x_curate_corpus", "stream_neardup" -> "x_stream_neardup")
  private var in: Inputs.CorpusInputs = _
  private var docsDir: String = _
  private var firstFp: Map[String, String] = Map.empty

  def describe(seed: Long): Map[String, Any] = {
    val i = Inputs.CorpusInputs(seed)
    Map("fingerprint" -> i.fingerprint, "loop" -> "closed", "clients" -> 1,
      "docs" -> i.docs.size, "vocab" -> i.vocab,
      "planted_pairs" -> i.planted.size,
      "planted_doc_share" -> i.planted.flatMap(p => Seq(p.a, p.b)).distinct.size.toDouble / i.docs.size,
      "boilerplate_docs" -> i.boilerplateDocs,
      "edit_rates" -> Inputs.CorpusInputs.EditRates.mkString("[", ", ", "]"))
  }

  def setup(ctx: Ctx, dir: File): Unit = {
    in = Inputs.CorpusInputs(ctx.seed)
    val spark = ctx.spark
    import spark.implicits._
    docsDir = dir.getPath
    ctx.tag("setup")
    spark.createDataset(in.docs.map(d =>
        DocRow(d.docId, d.text, d.lang, d.source, d.text.length.toLong)))
      .repartition(4).write.parquet(new File(dir, "documents.parquet").getPath)
  }

  private def query(ctx: Ctx, n: String, q: String): Seq[Row] = ctx.tracer.span(s"ext.$n") {
    val pairStats = ctx.tracer.on && n == "jaccard_ngram"
    val before = if (pairStats) PlanMetrics.lastExecutionId(ctx.spark) else 0L
    val rows = SparkEntry.queries(q)(ctx.spark, docsDir).collect().toSeq
    if (pairStats) {
      ctx.addLayer("ext.candidate_pairs", PlanMetrics.pairGeneratorRows(ctx.spark, before).toDouble)
      ctx.addLayer("ext.pairs_out", rows.size.toDouble)
    }
    rows
  }

  /** Runs the four queries, checks them, and returns each call's seconds. */
  private def pass(ctx: Ctx): Seq[(String, Double)] = ctx.tracer.span("bench.pass") {
    val res = queryOf.map { case (n, q) =>
      ctx.attempted.incrementAndGet()
      ctx.tag(s"$name:$n")
      val t0 = System.nanoTime()
      val rows = try query(ctx, n, q)
      catch { case e: Exception => ctx.fail(s"$n: $e"); Seq.empty[Row] }
      (n, rows, (System.nanoTime() - t0) / 1e9)
    }
    val fps = res.map { case (n, rows, _) => n -> Inputs.sha(rows.map(_.toString).sorted.iterator) }.toMap
    if (firstFp.isEmpty) firstFp = fps
    fps.foreach { case (n, fp) =>
      ctx.check(fp == firstFp(n), s"$n: result fingerprint $fp differs from first pass ${firstFp(n)}")
    }
    verify(ctx, res.map { case (n, rows, _) => n -> rows }.toMap)
    res.map { case (n, _, sec) => n -> sec }
  }

  def warmup(ctx: Ctx): Unit = { pass(ctx); () }

  def run(ctx: Ctx, seconds: Double, toggle: Boolean => Unit): Unit = {
    val t0 = System.nanoTime()
    var passes = 0
    var lastS = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the window closes at the pass end nearest to `seconds`
    while (elapsed + lastS / 2 < seconds || (ctx.traced && passes < 2)) {
      val tracedMode = ctx.traced && passes % 2 == 1
      toggle(tracedMode)
      val p0 = System.nanoTime()
      pass(ctx).foreach { case (n, sec) => ctx.addLayer(s"ext.${n}_s", sec) }
      lastS = (System.nanoTime() - p0) / 1e9
      ctx.ops.add(Op(lastS * 1e3, tracedMode))
      passes += 1
    }
    toggle(false)
    ctx.windowS = elapsed
    queryOf.foreach { case (n, _) => ctx.layer.computeIfPresent(s"ext.${n}_s", (_, v) => v / passes) }
    ctx.itemsPerS = in.docs.size / (Stats.median(ctx.ops.asScala.map(_.ms).toSeq) / 1e3)
  }

  private lazy val truth = {
    val t = in.planted.map(p => (p, in.toks(p.a), in.toks(p.b)))
    val jac = t.filter { case (p, a, b) =>
      in.lang(p.a) == in.lang(p.b) && a.length / 20 == b.length / 20 &&
        BigDecimal(Inputs.jaccard(Inputs.bigrams(a), Inputs.bigrams(b)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.3
    }.map(x => (x._1.a, x._1.b)).toSet
    val lsh = t.filter { case (_, a, b) =>
      Inputs.jaccard(Inputs.shingles(a), Inputs.shingles(b)) >= LshMinJaccard
    }.map(x => (x._1.a, x._1.b)).toSet
    val exact = t.filter { case (_, a, b) => a.sameElements(b) }.map(_._1.b).toSet
    (jac, lsh, exact)
  }

  private def verify(ctx: Ctx, res: Map[String, Seq[Row]]): Unit = {
    val (jac, lsh, exact) = truth
    def pairs(rows: Seq[Row]) = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val jMiss = jac -- pairs(res("jaccard_ngram"))
    ctx.check(jMiss.isEmpty, s"jaccard_ngram: recall ${1 - jMiss.size.toDouble / jac.size} " +
      s"over ${jac.size} planted pairs, missed ${jMiss.take(5)}")
    val mMiss = lsh -- pairs(res("minhash_multiband"))
    ctx.check(mMiss.isEmpty, s"minhash_multiband: recall ${1 - mMiss.size.toDouble / lsh.size} " +
      s"over ${lsh.size} planted pairs, missed ${mMiss.take(5)}")
    val flagged = res("stream_neardup").filter(_.getAs[String]("verdict") == "near_dup")
      .map(_.getAs[Long]("doc_id")).toSet
    val sMiss = lsh.map(_._2) -- flagged
    ctx.check(sMiss.isEmpty, s"stream_neardup: ${sMiss.size} planted copies admitted, e.g. ${sMiss.take(5)}")
    val kept = res("curate_corpus").map(_.getAs[Long]("doc_id")).toSet
    val dupKept = exact intersect kept
    ctx.check(dupKept.isEmpty, s"curate_corpus: kept exact duplicates ${dupKept.take(5)}")
  }
}

/** A row of `documents.parquet`, in the test-data schema the corpus
  * operators read. */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
                        n_chars: Long)

object Workloads {
  val all: Seq[Workload] = Seq(CaptureLiveWorkload, DedupCorpusWorkload)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}
