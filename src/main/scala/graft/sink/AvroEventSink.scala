package graft.sink

import java.io.File
import java.sql.Timestamp
import java.time.{Clock, Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatterBuilder
import java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
import java.time.temporal.ChronoField.{HOUR_OF_DAY, MINUTE_OF_HOUR, NANO_OF_SECOND, SECOND_OF_MINUTE}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import graft.model.QueryEvent

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}

/** True Avro object-container output for the event log — byte-level parity
  * with the reference sink's format (RecordsWriter.java:35-60 writes Avro
  * container files; this environment has no `spark-avro` datasource module,
  * so the files are produced with the core `org.apache.avro` API inside
  * `foreachPartition`, exactly the fallback SURVEY.md §7.4 prescribes).
  *
  * Layout mirrors the reference (DatePartitionedRecordsWriterFactory.java:182-214):
  * one directory per UTC day named by the date itself (no `key=` prefix),
  * files `dwhassessment_<ISO-compact-ts>_<loggerId>_<partition>.avro`.
  * Each Spark partition writes one file per day it touches — the
  * parallel-writer generalization of the reference's single writer thread.
  * No repartition: a day's rows may span many tasks (filenames carry the
  * partition id, so writers never collide), which keeps the write as wide as
  * the upstream — hash-partitioning on the day key would funnel an entire
  * day through ONE task at cluster scale.
  */
object AvroEventSink {

  /** File-name timestamp format — reference
    * DatePartitionedRecordsWriterFactory.LOG_TIME_FORMAT (`:53-64`): ISO
    * date, 'T', HHmm, optional seconds, optional decimal fraction with
    * trailing zeros stripped. */
  val LogTimeFormat = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .append(ISO_LOCAL_DATE)
    .appendLiteral('T')
    .appendValue(HOUR_OF_DAY, 2)
    .appendValue(MINUTE_OF_HOUR, 2)
    .optionalStart()
    .appendValue(SECOND_OF_MINUTE, 2)
    .optionalStart()
    .appendFraction(NANO_OF_SECOND, 0, 9, true)
    .toFormatter()

  /** Avro schema mirroring `QueryEvents.avsc`: scalar fields are nullable
    * unions with null default; array fields are NON-null single-branch
    * unions with default `[]` (QueryEvents.avsc:107-146 — a strict reader
    * validating against the published schema sees the same union shapes);
    * timestamps as `long(timestamp-millis)`. */
  lazy val avroSchema: Schema = {
    val timestampMillis = org.apache.avro.LogicalTypes.timestampMillis()
      .addToSchema(Schema.create(Schema.Type.LONG))
    var fields = SchemaBuilder.record("QueryEvents").fields()
    QueryEvent.schema.fields.foreach { f =>
      f.dataType.typeName match {
        case "string" =>
          fields = fields.name(f.name).`type`().optional().stringType()
        case "timestamp" =>
          fields = fields.name(f.name).`type`()
            .unionOf().nullType().and().`type`(timestampMillis).endUnion()
            .nullDefault()
        case "array" =>
          fields = fields.name(f.name).`type`()
            .unionOf().array().items().stringType().endUnion()
            .arrayDefault(java.util.Collections.emptyList[AnyRef]())
      }
    }
    fields.endRecord()
  }

  private lazy val arrayFieldNames: Set[String] =
    QueryEvent.schema.fields.filter(_.dataType.typeName == "array")
      .map(_.name).toSet

  private[graft] def toRecord(row: Row, names: Array[String],
                              schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    names.foreach { n =>
      val v = row.get(row.fieldIndex(n)) match {
        case null =>
          // arrays are non-nullable with default [] in the reference schema
          if (arrayFieldNames(n)) new java.util.ArrayList[AnyRef]() else null
        case t: Timestamp => java.lang.Long.valueOf(t.getTime)
        case seq: scala.collection.Seq[_] => seq.asJava
        case other => other
      }
      rec.put(n, v)
    }
    rec
  }

  /** Write the event DataFrame as date-partitioned Avro container files.
    * Returns nothing; files land under `path/<yyyy-MM-dd>/`. Partitioned by
    * the rows' own event dates (batch dual of the clock-driven
    * [[DatePartitionedAvroWriter]]); parallelism = upstream partitions.
    *
    * Commit protocol (the Spark-side stand-in for the reference's retry
    * loop, EventLogger.java:196-210, which SURVEY §2.1 O22 delegates to
    * "task retry + sink atomicity"): each task writes to a dot-prefixed,
    * attempt-suffixed temp name and atomically renames to the final name
    * only after the whole partition succeeded. A failed or killed attempt
    * leaves only invisible temps (cleaned up on the failure path when the
    * JVM survives); a speculative duplicate writes its own temp and the
    * rename either lands first or replaces a byte-identical committed file
    * — readers matching `dwhassessment_*.avro` never observe a partial
    * container file. */
  def write(events: DataFrame, path: String, loggerId: String,
            nowMs: Long = System.currentTimeMillis()): Unit = {
    val schemaJson = avroSchema.toString // ship as JSON; Schema isn't serializable
    val names = QueryEvent.schema.fieldNames
    val stamp = LogTimeFormat.format(
      Instant.ofEpochMilli(nowMs).atOffset(ZoneOffset.UTC))
    EventSink.withEventDate(events)
      .foreachPartition { rows: Iterator[Row] =>
        val schema = new Schema.Parser().parse(schemaJson)
        val ctx = org.apache.spark.TaskContext.get()
        val pid = if (ctx == null) 0 else ctx.partitionId()
        val attempt = if (ctx == null) 0L else ctx.taskAttemptId()
        writePartition(rows, schema, names, path,
          s"dwhassessment_${stamp}_${loggerId}", pid, attempt)
      }
  }

  /** One task's write: temp files while running, atomic rename on success,
    * temp cleanup + rethrow on failure. Factored out of [[write]] so the
    * spec can drive a failing iterator without a Spark job. */
  private[sink] def writePartition(rows: Iterator[Row], schema: Schema,
                                   names: Array[String], path: String,
                                   filePrefix: String, pid: Int,
                                   attempt: Long): Unit = {
    // day -> (open writer, temp file, committed destination)
    val writers = scala.collection.mutable.Map[
      String, (DataFileWriter[GenericRecord], File, File)]()
    def writerFor(day: String): DataFileWriter[GenericRecord] =
      writers.getOrElseUpdate(day, {
        val dir = new File(s"$path/$day")
        dir.mkdirs()
        val dst = new File(dir, s"${filePrefix}_$pid.avro")
        val tmp = new File(dir, s".${dst.getName}.attempt-$attempt.tmp")
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        (w.create(schema, tmp), tmp, dst)
      })._1
    try {
      rows.foreach { row =>
        writerFor(row.getAs[String]("EventDate"))
          .append(toRecord(row, names, schema))
      }
      writers.values.foreach { case (w, _, _) => w.close() }
      writers.values.foreach { case (_, tmp, dst) =>
        java.nio.file.Files.move(tmp.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } catch {
      case e: Throwable =>
        writers.values.foreach { case (w, tmp, _) =>
          try w.close() catch { case _: Exception => () }
          tmp.delete()
        }
        throw e
    }
  }

  /** Streaming variant: every micro-batch lands as Avro container files
    * through [[write]] via `foreachBatch` (epoch id suffixes the logger id,
    * so restarts never collide with committed files). The trigger interval
    * plays the reference's rollover-interval role, exactly like the parquet
    * sink (EventSink.writeStream). */
  def writeStream(events: DataFrame, path: String, checkpoint: String,
                  loggerId: String,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        write(batch.toDF(), path, s"${loggerId}e$epochId")
      }
      .start()

  /** Read container files back to Rows of (subset) columns — the O26 dual,
    * used by tests for round-trip assertions. A file whose tail is cut off
    * throws (see [[requireWhole]]). */
  def readRecords(file: File): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      file, new GenericDatumReader[GenericRecord]())
    try {
      val records = reader.iterator().asScala.toList
      requireWhole(reader, file.length(), file.toString)
      records
    } finally reader.close()
  }

  /** Every block of a container file ends with the file's sync marker, so
    * a reader that has consumed all records of a whole file has its last
    * sync point at the end of the file. Avro's reader stops without an
    * error at a block cut off mid-way, returning the records before the
    * cut; this check makes such a torn file fail loudly instead. */
  private def requireWhole(reader: DataFileReader[_], length: Long,
                           name: String): Unit =
    if (reader.previousSync() != length)
      throw new java.io.IOException(s"torn Avro container file $name: " +
        s"last sync marker at byte ${reader.previousSync()} of $length")

  /** Every container file of the log tree under `base` (one directory per
    * day), with its records, in path order. With `live = true` the tree
    * is still being appended to: a file that cannot be decoded yet (just
    * opened, header not flushed, or torn mid-append) is left out and is
    * read by the next call. Otherwise every file must decode. */
  def readTree(base: File, live: Boolean = false): Seq[(File, Seq[GenericRecord])] =
    Option(base.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".avro"))
      .sortBy(_.getPath)
      .flatMap { f =>
        if (live) scala.util.Try(readRecords(f)).toOption.map(f -> _)
        else Some(f -> readRecords(f))
      }

  /** DISTRIBUTED read of the reference-format Avro log:
    * the container files land as whole-file rows through Spark's
    * `binaryFile` source — one task per file, so parallelism equals the
    * file count the rollover policy already bounds (hourly × writers ×
    * days), which is exactly the right grain for container files that
    * cannot be split mid-file anyway — and each task decodes its file with
    * the core Avro `DataFileReader` into the 33-column QueryEvents schema.
    * Decoding passes [[avroSchema]] as the READER schema, so Avro's own
    * resolution applies the reference's evolution contract (absent scalar
    * → null, absent array → `[]`) to logs written by older hook versions.
    * No driver-side `java.io.File` anywhere: the path can be any Hadoop
    * filesystem, and the decode scales with the cluster.
    *
    * `glob` narrows the read to a filename subset (default: every
    * completed container file) — e.g. one writer id's files, the surface
    * [[graft.capture.CaptureDemo.capLiveMulti]] uses to pin that the
    * DISTRIBUTED read path loses no writer's tree. */
  def readAsFrame(spark: org.apache.spark.sql.SparkSession,
                  path: String,
                  glob: String = "dwhassessment_*.avro"): DataFrame = {
    val readerSchemaJson = avroSchema.toString
    val names = QueryEvent.schema.fieldNames
    // Decode dispatch keyed on the SPARK-side field type, not the runtime
    // value class, so a future numeric field cannot be mistaken for a
    // timestamp or a string. Unknown kinds fail loudly at
    // closure-construction time, on the driver.
    val fieldKinds: Array[Int] = QueryEvent.schema.fields.map { f =>
      f.dataType.typeName match {
        case "string" => 0
        case "timestamp" => 1
        case "array" => 2
        case other => throw new IllegalStateException(
          s"readAsFrame has no decode rule for field ${f.name}: $other — " +
            "extend the dispatch before adding new field types")
      }
    }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)
      .select("path", "content")
    val enc = org.apache.spark.sql.Encoders.row(QueryEvent.schema)
    files.mapPartitions { it: Iterator[Row] =>
      val readerSchema = new Schema.Parser().parse(readerSchemaJson)
      // classic (non-fast) datum reader: Avro's FastReaderBuilder cannot
      // materialize the default [] for the schema's single-branch-union
      // array fields (AvroRuntimeException "Not an array"); the resolving
      // path handles them fine
      val data = new GenericData()
      data.setFastReaderEnabled(false)
      it.flatMap { fileRow =>
        val bytes = fileRow.getAs[Array[Byte]](1)
        val in = new org.apache.avro.file.SeekableByteArrayInput(bytes)
        val reader = new DataFileReader[GenericRecord](in,
          new GenericDatumReader[GenericRecord](null, readerSchema, data))
        try {
          val out = Vector.newBuilder[Row]
          while (reader.hasNext) {
            val rec = reader.next()
            out += Row.fromSeq(names.indices.map { i =>
              (rec.get(names(i)), fieldKinds(i)) match {
                case (null, 2) => Seq.empty[String]
                case (null, _) => null
                case (v, 0) => v.toString
                case (l: java.lang.Long, 1) => new Timestamp(l)
                case (a: java.util.Collection[_], 2) =>
                  a.asScala.map(String.valueOf).toSeq
                case (v, k) => throw new IllegalStateException(
                  s"field ${names(i)} (kind $k) holds unexpected " +
                    s"${v.getClass.getName}: $v")
              }
            })
          }
          requireWhole(reader, bytes.length, fileRow.getString(0))
          out.result()
        } finally reader.close()
      }
    }(enc)
  }
}

/** Clock-driven date-partitioned Avro writer — the long-running-process dual
  * of the batch sink, with the reference's exact rollover policy
  * (DatePartitionedRecordsWriterFactory.java:196-202):
  *
  *  - next rollover = min(now + interval, truncated to whole minutes;
  *    start of the next UTC day) — a file never spans midnight;
  *  - files open lazily on the first write after a rollover (closing without
  *    writing leaves NO empty files);
  *  - the target directory is the CLOCK's current UTC date at open time,
  *    file name `dwhassessment_<LOG_TIME_FORMAT now>_<loggerId>.avro`.
  *
  * One instance per writer thread/partition; pass a distinct `loggerId` (or
  * suffix) per writer when several run against one directory tree.
  */
class DatePartitionedAvroWriter(
    basePath: File,
    schema: Schema,
    clock: Clock,
    loggerId: String,
    rolloverInterval: Duration,
    maxWriteRetries: Int = 2,
    maxFileBytes: Long = DatePartitionedAvroWriter.DefaultMaxFileBytes,
    sizeCheckEvery: Long = DatePartitionedAvroWriter.SizeCheckEvery) {

  private var rolloverTime: Instant = calculateNextRolloverTime()
  private var current: DataFileWriter[GenericRecord] = null
  private var currentFile: File = null
  private var recordsInCurrentFile: Long = 0L

  /** Reference `calculateNextRolloverTime` (`:196-202`). */
  private def calculateNextRolloverTime(): Instant = {
    val now = clock.instant()
    val nextRollover = now.plus(rolloverInterval).truncatedTo(ChronoUnit.MINUTES)
    val nextDay = now.plus(1, ChronoUnit.DAYS).truncatedTo(ChronoUnit.DAYS)
    if (nextRollover.isBefore(nextDay)) nextRollover else nextDay
  }

  private def shouldRollover: Boolean = clock.instant().isAfter(rolloverTime)

  private def openWriter(): DataFileWriter[GenericRecord] = {
    val now = clock.instant().atOffset(ZoneOffset.UTC)
    val dir = new File(basePath, ISO_LOCAL_DATE.format(now.toLocalDate))
    dir.mkdirs()
    val name =
      s"dwhassessment_${AvroEventSink.LogTimeFormat.format(now)}_$loggerId.avro"
    // Never truncate a kept file from a prior reset: if the clock hasn't
    // advanced past the discarded writer's name, suffix a sequence number.
    var f = new File(dir, name)
    var seq = 1
    while (f.exists()) {
      f = new File(dir, s"${name.stripSuffix(".avro")}_r$seq.avro")
      seq += 1
    }
    currentFile = f
    recordsInCurrentFile = 0L
    createDataFile(currentFile)
  }

  /** Seam for the spec to inject IO failures; production path writes the
    * container file directly. */
  protected def createDataFile(file: File): DataFileWriter[GenericRecord] = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
  }

  /** Append one record, rolling the file over first if the clock passed the
    * rollover time (reference `write` + `maybeRolloverWriter`, `:98-133`).
    *
    * Error path mirrors the reference's writer reset + bounded retry
    * (DatePartitionedRecordsWriterFactory.java:109-114, retry loop
    * EventLogger.java:196-210): a failed append discards the poisoned
    * `DataFileWriter` — deleting the file when nothing was ever committed to
    * it, so a first-write failure leaves no partial garbage — and the next
    * attempt lazily opens a fresh writer. After `maxWriteRetries` resets the
    * failure propagates to the caller. */
  def write(rec: GenericRecord): Unit = {
    if (shouldRollover) {
      close()
      rolloverTime = calculateNextRolloverTime()
    } else if (current != null && maxFileBytes > 0 &&
        recordsInCurrentFile % sizeCheckEvery == 0 &&
        currentFile.length() >= maxFileBytes) {
      // Size trigger (beyond the reference, which never reads back what it
      // writes): readAsFrame decodes one WHOLE container file per task via
      // binaryFile (2 GB row cap), so a burst hour must not grow a single
      // file past what a read task can hold. Roll at the byte bound too;
      // the clock schedule is untouched. length() is exact here because
      // every append flushes, but the stat syscall is throttled to every
      // 64th record — bounded overshoot of 63 records versus
      // a per-append metadata round trip on network filesystems.
      // Same-timestamp reopen dedupes via the _rN suffix in openWriter.
      close()
    }
    var attempt = 0
    var done = false
    while (!done) {
      if (current == null) current = openWriter()
      try {
        current.append(rec)
        current.flush()
        recordsInCurrentFile += 1
        done = true
      } catch {
        case e: Exception =>
          discard()
          attempt += 1
          if (attempt > maxWriteRetries) throw e
      }
    }
  }

  /** Drop a poisoned writer: best-effort close, delete the file if no record
    * ever landed in it (records already flushed stay readable — the file is
    * kept then, exactly like the reference's in-place reset). */
  private def discard(): Unit = {
    if (current != null) {
      try current.close() catch { case _: Exception => () }
      if (recordsInCurrentFile == 0L && currentFile != null) currentFile.delete()
    }
    current = null
    currentFile = null
  }

  /** A drained batch, collected to the driver and appended record by
    * record: the `sink` a [[graft.capture.CaptureDrainer]] takes to feed
    * this writer. */
  def writeFrame(df: DataFrame): Unit = {
    val names = schema.getFields.asScala.map(_.name).toArray
    df.collect().foreach(r => write(AvroEventSink.toRecord(r, names, schema)))
  }

  def close(): Unit = {
    if (current != null) current.close()
    current = null
    currentFile = null
  }
}

object DatePartitionedAvroWriter {
  /** Default size trigger: 256 MB keeps any single container file an order
    * of magnitude under binaryFile's 2 GB whole-file row cap, with headroom
    * for decode-time expansion. `maxFileBytes <= 0` disables the trigger
    * (pure reference policy: hourly + midnight only). */
  val DefaultMaxFileBytes: Long = 256L * 1024 * 1024

  /** Stat the file for the size trigger every N appends, not every append. */
  val SizeCheckEvery: Long = 64L
}
