package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Date-partitioned event-log sink (SURVEY.md §2.1 O23–O25).
  *
  * The reference writes one Avro container file per (day, rollover-window)
  * with a single daemon thread and a flush per record
  * (DatePartitionedRecordsWriterFactory.java:99-133, RecordsWriter.java:35-60)
  * — ~10²-10³ events/s. Here the same layout semantics are expressed
  * Spark-natively and run embarrassingly parallel:
  *
  *  - per-day directories        → `partitionBy(EventDate)` (partition pruning
  *    for downstream readers comes free via PruneFileSourcePartitions);
  *  - time-based file rollover   → streaming trigger interval (one file set
  *    per epoch) + `maxRecordsPerFile` as the size bound;
  *  - flush-per-record durability→ per-epoch atomic commit via the checkpoint
  *    + file-sink manifest (strictly better: exactly-once vs at-least-once).
  *
  * Physical format is Parquet with the exact QueryEvents column set — this
  * environment has no spark-avro module (SURVEY.md §7.4); layout, not bytes,
  * is the contract.
  */
object EventSink {

  /** Partition column derived from the event's effective time: EndTime for
    * completed events, StartTime otherwise — matching the reference's "date
    * of the record being written" (DatePartitionedRecordsWriterFactory.java:188-190),
    * formatted ISO_LOCAL_DATE in UTC. */
  def withEventDate(events: DataFrame): DataFrame =
    events.withColumn(
      "EventDate",
      date_format(coalesce(col("EndTime"), col("StartTime")), "yyyy-MM-dd")
    )

  /** Batch write. `maxRecordsPerFile` bounds file size the way the
    * reference's hourly rollover bounds it (O24).
    *
    * Appends to one path are serialized within the JVM: the commit
    * protocol stages every job under `<path>/_temporary`, and the first
    * job to commit deletes that whole directory, so a second job appending
    * at the same time loses its staged task files (or fails its commit and
    * is retried on top of files already published). Writers in different
    * processes are not serialized; give each process its own path. */
  def writeBatch(events: DataFrame, path: String,
                 maxRecordsPerFile: Long = 1000000L): Unit =
    lockFor(events.sparkSession, path).synchronized {
      withEventDate(events).write
        .mode("append")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("EventDate")
        .parquet(path)
    }

  // Striped by the qualified path, so the set of locks stays fixed however
  // many paths a process writes; two paths sharing a stripe only queue.
  private val writeLocks = Array.fill(64)(new Object)

  private def lockFor(spark: SparkSession, path: String): Object = {
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    writeLocks(Math.floorMod(key.hashCode, writeLocks.length))
  }

  /** O22 — [[writeBatch]] under the reference's retry-with-backoff policy
    * ([[Retry]]): the whole batch commit retries on transient IO failure
    * with the quadratic schedule. Semantics are AT-LEAST-ONCE, not
    * exactly-once: task files stay under `_temporary` until job commit, so
    * a retry after a failure DURING THE WRITE never double-writes — but
    * FileOutputCommitter's job commit itself is a multi-file move, and a
    * transient FS failure midway through it can leave some files already
    * published, which the append-mode retry then duplicates. Same contract
    * as the reference's retried Avro appends; readers that need
    * exactly-once recover idempotence via [[readLatestEvents]] (dedupe on
    * the engine-assigned QueryId + EventType). `sleep` is injectable for
    * tests. */
  def writeBatchWithRetry(events: DataFrame, path: String,
                          maxRecordsPerFile: Long = 1000000L,
                          maxRetries: Int = 2,
                          sleep: Long => Unit = Thread.sleep): Unit =
    Retry.withBackoff(maxRetries, sleep) {
      writeBatch(events, path, maxRecordsPerFile)
    }

  /** Streaming write: trigger interval plays the rollover-interval role
    * (reference default 1 h, LoggingHookConstants.java:33); checkpointed file
    * sink gives exactly-once. */
  def writeStream(events: DataFrame, path: String, checkpoint: String,
                  trigger: Trigger = Trigger.ProcessingTime("1 hour"))
      : StreamingQuery =
    withEventDate(events).writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("EventDate")
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** Read the log back (O26). Partition pruning on EventDate applies to any
    * `filter($"EventDate" === ...)` a caller adds. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-evolution read: conform a log written by ANY hook version to the
    * current 33-column QueryEvent schema, applying the Avro-default
    * semantics the reference's schema encodes (QueryEvents.avsc): absent
    * scalar fields → null, absent array fields → `[]`. Old logs stay
    * readable after the schema grows — the evolution contract a long-lived
    * event log needs. */
  def readAsEvents(spark: SparkSession, path: String): DataFrame =
    conform(read(spark, path))

  /** The evolution conform as a standalone transform: any frame carrying a
    * SUBSET of the QueryEvent columns becomes a full 33-column frame with
    * the Avro defaults applied — also the adapter a caller uses to feed a
    * partial projection into the Avro container sink (whose record builder
    * wants every field present). */
  def conform(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    val srcType = raw.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = graft.model.QueryEvent.schema.fields.toIndexedSeq.map { f =>
      // `.sql` ignores nullability: a log whose array columns differ only
      // in element-nullability (the encoder writes containsNull=true) must
      // NOT go through cast — ANSI refuses a true→false containsNull cast
      // even though every value fits (found by the capture-listener round
      // trip). Same-type columns pass through; real evolution still casts.
      if (present(f.name) && srcType(f.name).sql == f.dataType.sql)
        col(f.name).as(f.name)
      else if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else if (f.dataType.typeName == "array")
        array().cast(f.dataType).as(f.name) // avro default []
      else lit(null).cast(f.dataType).as(f.name) // avro default null
    }
    raw.select(cols: _*)
  }

  /** [[readAsEvents]] with the at-least-once recovery applied: one row per
    * (QueryId, EventType) lifecycle event, keeping the latest EndTime copy
    * — the idempotent read that makes a batch duplicated by a mid-commit
    * retry ([[writeBatchWithRetry]]) harmless. Events without a QueryId
    * (synthetic or legacy rows) pass through untouched. */
  def readLatestEvents(spark: SparkSession, path: String): DataFrame = {
    val all = readAsEvents(spark, path)
    val keyed = all.filter(col("QueryId").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("QueryId", "EventType")
      .orderBy(col("EndTime").desc_nulls_last, col("StartTime").desc_nulls_last)
    keyed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .unionByName(all.filter(col("QueryId").isNull))
  }

  /** O23/O25 — reference file-naming convention:
    * `dwhassessment_<ISO-compact-timestamp>_<loggerId>` (reference
    * DatePartitionedRecordsWriterFactory.java:208-214, prefix
    * LoggingHookConstants.java:29). Applied as a post-commit rename of the
    * part files inside each date partition — naming is metadata, so it stays
    * out of the write hot path; per-file suffix index keeps names unique
    * within a (timestamp, logger) pair. Returns renamed count. */
  def applyReferenceNaming(path: String, loggerId: String,
                           nowMs: Long = System.currentTimeMillis()): Int = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HHmmss.SSS").withZone(java.time.ZoneOffset.UTC)
    val stamp = fmt.format(java.time.Instant.ofEpochMilli(nowMs))
    val root = new java.io.File(path)
    val parts = Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("EventDate="))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getPath)
    parts.zipWithIndex.count { case (f, i) =>
      f.renameTo(new java.io.File(f.getParentFile,
        s"dwhassessment_${stamp}_${loggerId}_$i.parquet"))
    }
  }
}
