package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + table-loading helpers shared by Verify, Bench, tests.
  *
  * Config choices (all justified by the local[N] single-JVM environment and
  * the DuckDB oracle):
  *  - `shuffle.partitions` = cores, not 200 (local mode; at cluster scale this
  *    would be sized to ~2-3x total cores / target 128-256 MB per partition).
  *  - AQE on: runtime coalescing of small shuffle partitions + skew-join
  *    splitting — the 100 TB answer to skewed keys.
  *  - UTC session timezone: the reference is epoch-millis UTC everywhere
  *    (reference DatePartitionedRecordsWriterFactory.java:204-206) and the
  *    DuckDB oracle treats naive timestamps as UTC.
  *  - `parquet.inferTimestampNTZ.enabled=false`: testdata parquet stores
  *    unadjusted timestamps; reading them as TIMESTAMP (session-TZ UTC) makes
  *    epoch arithmetic agree with DuckDB's naive-as-UTC semantics.
  *  - `legacy.parquet.nanosAsLong=true`: `events.ts` is TIMESTAMP(NANOS),
  *    which Spark's vectorized reader rejects; we read the raw nanos long and
  *    convert (see [[Tables.events]]).
  *  - `optimizer.canChangeCachedPlanOutputPartitioning=true`: a persisted
  *    frame gets AQE-coalesced, data-sized partitions. Off (the Spark
  *    default) AQE never coalesces the exchange under a `persist`, so every
  *    cached frame keeps all `initialPartitionNum` (256) partitions and each
  *    scan of it runs 256 tasks for a few KB. One pass of four dedup
  *    queries over a 480-doc corpus runs 1,438 tasks that way and 160 with
  *    the setting; `x_jaccard_ngram` drops from about 5 s to 1.1 s on a
  *    4-vCPU host. Results are unchanged and no exchange is added above
  *    the cache scans (PlanSpec pins both).
  *  - `codegen.cache.maxEntries=1000`: the generated-class cache holds a
  *    session's working set. One pass of the four dedup queries compiles
  *    about 180 classes at sf0.001; at Spark's default of 100 entries each
  *    pass evicts and recompiles the previous pass's classes (151 in a warm
  *    pass of three of them). With 1000 a warm pass compiles about 40, all
  *    in the streaming query (PlanSpec pins the other three).
  *  - `codegen.useIdInClassName=false`: the cache key is the generated
  *    source, and AQE numbers codegen stages in stage-completion order, so
  *    two independent stages finishing in the other order swap their ids
  *    and both classes compile again (4 to 8 of `x_curate_corpus`'s
  *    classes on about half of its repeats). Without the id in the class
  *    name the source is the same either way.
  *  - `hadoop.fs.file.impl` = [[NioLocalFileSystem]] and
  *    `hadoop.fs.AbstractFileSystem.file.impl` = [[NioLocalFs]]: local
  *    files commit without forking a process. Without `libhadoop.so`,
  *    Hadoop's local filesystem forks `chmod` on every file create and
  *    mkdir and `readlink` twice per FileContext rename, the path every
  *    streaming checkpoint and state-store commit takes. On a 4-vCPU
  *    host, 30 thread dumps taken over the dedup passes of a benchmark
  *    run caught 22 threads inside `Shell.runCommand`, and a pass spent
  *    8.3 s of task time for 2.9 s of task CPU. With these classes the dumps catch none, task time
  *    falls to 5.2 s, and `x_stream_neardup` from 3.6 s to 2.4 s per
  *    call. The `.crc` sidecars, the atomic renames and the permission
  *    bits are those of the stock classes (LocalFsSpec pins them).
  *  - [[graft.plans.BindConstants]], injected as a columnar rule: filter
  *    constants are read from the generated class's references instead of
  *    written into its source. Spark spells numeric, date and timestamp
  *    literals out in the Java it compiles, so statements that differ only
  *    in a constant each compiled their own classes: 300 statements of the
  *    capture_live mix (2 clients, after 25 warm-up statements each)
  *    compiled 414 classes, and none with the rule. On a 4-vCPU host that
  *    cut task time per statement from 0.21-0.24 s to 0.12 s and raised
  *    capture_live from 7.3 to 9.2 statements/s (10 of 10 paired runs).
  *    Scans keep their literals, so pruning and pushdown are unchanged
  *    (BindConstantsSpec pins both).
  */
object Graft {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(appName: String = "graft", nCpus: Int = cpus): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$nCpus]")
      .appName(appName)
      .withExtensions(_.injectColumnar(_ => graft.plans.BindConstants))
      // Every exchange starts at 256 partitions and AQE coalesces down from
      // map-output stats, so partitions follow the data: a 100x corpus gets
      // data-sized partitions (its 30x->100x x_jaccard_ngram leg reads ~0.9,
      // COVERAGE.md), while small runs coalesce back to one per core at no
      // measurable cost on the sf0.1 bench.
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256")
      // let that coalescing reach persisted frames too (scaladoc above)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft's read-path configs to an externally created session. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** The session the stateful streaming queries run under: a child of
    * the caller's session with 8 shuffle partitions. Streaming state stores
    * are one instance per shuffle partition per micro-batch, and their
    * open/commit overhead, not the data, dominates an eval-sized run (at
    * sf0.1: 32 partitions ≈ 35 s, 8 ≈ 12 s, verdicts identical). A real
    * deployment sizes this to its ingest volume. `newSession()` shares the
    * SparkContext but owns its conf, so the setting never reaches queries
    * on the caller's session. One child is kept per parent (weakly, so it
    * goes with the parent): a fresh child per call would get a fresh
    * executor class loader, and Spark's codegen cache, keyed by class
    * loader, would compile every batch leg's classes again. */
  def streamSession(s: SparkSession): SparkSession =
    streamSessions.synchronized {
      streamSessions.computeIfAbsent(s, { _ =>
        val ss = configure(s.newSession())
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        ss
      })
    }

  private val streamSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** A fresh directory under the process's one scratch root. Query results
    * read their directory lazily, so no call can delete its own; one
    * shutdown hook removes the root and everything under it. */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    sys.addShutdownHook(rm(root.toFile))
    root
  }
}

/** Loaders for the driver-generated test tables (`TESTDATA.md`). */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => spark.read.parquet(s"$dir/$name.parquet")
    }

  /** `events.parquet` stores `ts` as TIMESTAMP(NANOS); with
    * `nanosAsLong=true` it surfaces as a nanos epoch long. Convert to a
    * microsecond TIMESTAMP with integer arithmetic (a double division would
    * lose precision above 2^53 ns ~ 104 days of epoch time).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    Graft.configure(spark)
    eventTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** The `ts` conversion of [[events]] for any frame read from the events
    * file, batch or streaming. */
  def eventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _      => raw // already a timestamp type (future-proof)
    }
}
