package graft.sink

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import graft.TestSpark
import graft.model.QueryEvent

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level Avro container output: reference layout + round-trip goldens
  * (reference RecordsWriterTest.java:94-106,
  * DatePartitionedRecordsWriterFactoryTest.java:100-165). */
class AvroEventSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("avro schema mirrors all 33 QueryEvents fields") {
    val s = AvroEventSink.avroSchema
    assert(s.getName == "QueryEvents")
    assert(s.getFields.size() == 33)
    assert(QueryEvent.schema.fieldNames.forall(n => s.getField(n) != null))
  }

  test("array fields are non-null single-branch unions with default []") {
    // reference QueryEvents.avsc:107-146 — arrays are NOT nullable
    import org.apache.avro.Schema.Type
    val s = AvroEventSink.avroSchema
    val arrays = QueryEvent.schema.fields
      .filter(_.dataType.typeName == "array").map(_.name)
    assert(arrays.nonEmpty)
    arrays.foreach { n =>
      val f = s.getField(n)
      assert(f.schema().getType == Type.UNION, s"$n not a union")
      val branches = f.schema().getTypes
      assert(branches.size() == 1 && branches.get(0).getType == Type.ARRAY,
        s"$n union is $branches, want single array branch")
      assert(f.hasDefaultValue && f.defaultVal()
        .isInstanceOf[java.util.List[_]], s"$n default must be []")
      assert(f.defaultVal().asInstanceOf[java.util.List[_]].isEmpty)
    }
    // scalar fields stay null-first nullable unions
    val st = s.getField("QueryId").schema()
    assert(st.getType == Type.UNION && st.getTypes.get(0).getType == Type.NULL)
  }

  test("live log-tree read skips a file not yet decodable; a settled read is strict") {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecord}
    val schema = AvroEventSink.avroSchema
    val base = Files.createTempDirectory("graft_avro_tree").toFile
    val clock = java.time.Clock.fixed(
      java.time.Instant.parse("2022-12-25T12:00:22Z"), java.time.ZoneOffset.UTC)
    val w = new DatePartitionedAvroWriter(base, schema, clock, "tree",
      java.time.Duration.ofMinutes(30))
    import spark.implicits._
    w.writeFrame(Seq(QueryEvent(QueryId = Some("q1")),
      QueryEvent(QueryId = Some("q2"))).toDF())
    w.close()
    def ids(tree: Seq[(File, Seq[org.apache.avro.generic.GenericRecord])]) =
      tree.flatMap(_._2).map(_.get("QueryId").toString).sorted
    // a writer that has just opened its file and not yet written the
    // header: the file on disk is not an Avro container, and a plain
    // read of it fails the way a poll of a live tree used to
    val day = new File(base, "2022-12-25")
    val opened = new File(day, "dwhassessment_2022-12-25T1201_tree.avro")
    Files.createFile(opened.toPath)
    intercept[java.io.IOException](AvroEventSink.readRecords(opened))
    assert(ids(AvroEventSink.readTree(base, live = true)) == Seq("q1", "q2"))
    intercept[java.io.IOException](AvroEventSink.readTree(base))
    // the header lands: the file decodes, holding no records yet
    new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      .create(schema, opened).close()
    assert(ids(AvroEventSink.readTree(base)) == Seq("q1", "q2"))
    // a file truncated inside its header never passes a settled read, and
    // a live one skips it
    val full = AvroEventSink.readTree(base).map(_._1)
      .find(_.getName.contains("T120022")).get
    val bytes = Files.readAllBytes(full.toPath)
    Files.write(new File(day, "dwhassessment_2022-12-25T1202_tree.avro").toPath,
      bytes.take(24))
    assert(ids(AvroEventSink.readTree(base, live = true)) == Seq("q1", "q2"))
    intercept[java.io.IOException](AvroEventSink.readTree(base))
    // a file whose tail is cut off inside its last block: Avro's reader
    // returns the records before the cut without an error, so a settled
    // read and the distributed read must fail on it, naming the file
    new File(day, "dwhassessment_2022-12-25T1202_tree.avro").delete()
    assert(ids(AvroEventSink.readTree(base)) == Seq("q1", "q2"))
    val torn = new File(day, "dwhassessment_2022-12-25T1203_tree.avro")
    Files.write(torn.toPath, bytes.dropRight(8))
    val e = intercept[java.io.IOException](AvroEventSink.readRecords(torn))
    assert(e.getMessage.contains(torn.getName), e.getMessage)
    assert(ids(AvroEventSink.readTree(base, live = true)) == Seq("q1", "q2"))
    intercept[java.io.IOException](AvroEventSink.readTree(base))
    val f = intercept[Exception](
      AvroEventSink.readAsFrame(spark, base.toString).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(f).exists(_.contains(torn.getName)), f.toString)
  }

  test("write + read-back: reference dir layout, file names, values") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_avro").toString
    val events = Seq(
      QueryEvent(QueryId = Some("q1"), EventType = Some("QUERY_COMPLETED"),
        StartTime = Some(new Timestamp(1671969621334L)),
        EndTime = Some(new Timestamp(1671969622334L)),
        Status = Some("SUCCESS"), TablesRead = Seq("db@t1", "db@t2")),
      QueryEvent(QueryId = Some("q2"), EventType = Some("QUERY_COMPLETED"),
        EndTime = Some(new Timestamp(1671969622334L + 86400000L)),
        Status = Some("FAIL"))
    ).toDF()
    AvroEventSink.write(events, base, "a665f132ab", 1671969622334L)
    // reference layout: bare date dirs, dwhassessment_ files
    val dirs = new File(base).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("2022-12-25", "2022-12-26"))
    val files = new File(s"$base/2022-12-25").listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.forall(
      _.getName.matches("dwhassessment_2022-12-25T120022\\.334_a665f132ab_\\d+\\.avro")))
    // round-trip values through the raw Avro reader
    val recs = new File(base).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".avro"))
      .flatMap(AvroEventSink.readRecords)
    assert(recs.length == 2)
    val byId = recs.map(r => r.get("QueryId").toString -> r).toMap
    assert(byId("q1").get("Status").toString == "SUCCESS")
    assert(byId("q1").get("EndTime") == 1671969622334L)
    assert(byId("q1").get("TablesRead").toString.contains("db@t1"))
    assert(byId("q2").get("StartTime") == null)
    // non-null array schema: an absent array round-trips as [], not null
    assert(byId("q2").get("TablesRead").toString == "[]")
  }

  test("distributed readAsFrame decodes the container log into the 33-col schema") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_avro_dist").toString
    val events = Seq(
      QueryEvent(QueryId = Some("d1"), EventType = Some("QUERY_COMPLETED"),
        StartTime = Some(new Timestamp(1671969621334L)),
        EndTime = Some(new Timestamp(1671969622334L)),
        Status = Some("SUCCESS"), TablesRead = Seq("db@t1", "db@t2"),
        CountersObject = Some("""{"durationMs": 1000}""")),
      QueryEvent(QueryId = Some("d2"), EventType = Some("QUERY_SUBMITTED"),
        StartTime = Some(new Timestamp(1671969622334L + 86400000L)))
    ).toDF()
    AvroEventSink.write(events, base, "distrw", 1671969622334L)
    val back = AvroEventSink.readAsFrame(spark, base)
    assert(back.columns.toSeq == QueryEvent.schema.fieldNames.toSeq)
    val rows = back.collect().map(r => r.getAs[String]("QueryId") -> r).toMap
    assert(rows.keySet == Set("d1", "d2"))
    val d1 = rows("d1")
    assert(d1.getAs[String]("Status") == "SUCCESS")
    assert(d1.getAs[Timestamp]("EndTime").getTime == 1671969622334L)
    assert(d1.getSeq[String](d1.fieldIndex("TablesRead")).toSeq == Seq("db@t1", "db@t2"))
    assert(d1.getAs[String]("CountersObject").contains("durationMs"))
    val d2 = rows("d2")
    assert(d2.getAs[Timestamp]("EndTime") == null)
    assert(d2.getSeq[String](d2.fieldIndex("TablesRead")).isEmpty)
    // it is genuinely a distributed read: the decode runs in tasks over
    // binaryFile rows, not a driver loop (one task per container file)
    assert(back.rdd.getNumPartitions >= 1)
  }

  test("readAsFrame applies Avro schema resolution to an OLD-schema log") {
    // a log written by a prior hook version (fewer fields) must conform:
    // absent scalars null, absent arrays [] — the reader-schema contract.
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val base = Files.createTempDirectory("graft_avro_old").toString
    val old = SchemaBuilder.record("QueryEvents").fields()
      .name("QueryId").`type`().optional().stringType()
      .name("EventType").`type`().optional().stringType()
      .endRecord()
    val dir = new File(base, "2022-12-25"); dir.mkdirs()
    val f = new File(dir, "dwhassessment_2022-12-25T1200_oldver_0.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](old)).create(old, f)
    val rec = new GenericData.Record(old)
    rec.put("QueryId", "legacy1"); rec.put("EventType", "QUERY_COMPLETED")
    w.append(rec); w.close()
    val back = AvroEventSink.readAsFrame(spark, base).collect()
    assert(back.length == 1)
    val r = back.head
    assert(r.getAs[String]("QueryId") == "legacy1")
    assert(r.getAs[String]("Status") == null)
    assert(r.getSeq[String](r.fieldIndex("TablesRead")).isEmpty)
    assert(r.getAs[Timestamp]("EndTime") == null)
  }

  test("streaming avro sink: micro-batches land as container files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_avro_stream")
    val (out, ckpt) = (s"$base/data", s"$base/ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[QueryEvent]
    in.addData(
      QueryEvent(QueryId = Some("q1"), EventType = Some("QUERY_COMPLETED"),
        EndTime = Some(new Timestamp(1671969622334L))),
      QueryEvent(QueryId = Some("q2"), EventType = Some("QUERY_COMPLETED"),
        EndTime = Some(new Timestamp(1671969622334L))))
    val q = AvroEventSink.writeStream(in.toDF(), out, ckpt, "stream01",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val files = new File(s"$out/2022-12-25").listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    assert(files.forall(_.getName.matches(
      "dwhassessment_.*_stream01e\\d+_\\d+\\.avro")))
    val ids = files.flatMap(AvroEventSink.readRecords)
      .map(_.get("QueryId").toString).sorted
    assert(ids.toSeq == Seq("q1", "q2"))
  }

  // --- commit protocol (O22 delegation made real: temp + atomic rename) ---

  private def eventRows(ids: String*): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    val df = ids.map { id =>
      QueryEvent(QueryId = Some(id),
        EndTime = Some(new Timestamp(1671969622334L)))
    }.toDF()
    EventSink.withEventDate(df).collect().toSeq
  }

  private def visibleAvro(base: String): Array[File] =
    Option(new File(base).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(f => f.getName.endsWith(".avro") && !f.getName.startsWith("."))

  private def allFiles(base: String): Array[File] =
    Option(new File(base).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(_.listFiles())

  test("failed task attempt leaves no visible or temp file") {
    val base = Files.createTempDirectory("graft_avro_fail").toString
    val rows = eventRows("q1", "q2")
    val failing: Iterator[org.apache.spark.sql.Row] =
      rows.iterator.take(1) ++ Iterator.continually[org.apache.spark.sql.Row](
        throw new java.io.IOException("task died mid-partition"))
    intercept[java.io.IOException] {
      AvroEventSink.writePartition(failing, AvroEventSink.avroSchema,
        QueryEvent.schema.fieldNames, base, "dwhassessment_T_log", 0, 7L)
    }
    assert(visibleAvro(base).isEmpty, "failed attempt committed a file")
    assert(allFiles(base).isEmpty, "failed attempt leaked a temp file")
  }

  test("retried attempt after a failure commits exactly one file") {
    val base = Files.createTempDirectory("graft_avro_retry").toString
    val rows = eventRows("q1", "q2")
    val failing: Iterator[org.apache.spark.sql.Row] =
      rows.iterator.take(1) ++ Iterator.continually[org.apache.spark.sql.Row](
        throw new java.io.IOException("first attempt dies"))
    intercept[java.io.IOException] {
      AvroEventSink.writePartition(failing, AvroEventSink.avroSchema,
        QueryEvent.schema.fieldNames, base, "dwhassessment_T_log", 0, 7L)
    }
    // Spark reschedules the task as a new attempt over the same rows
    AvroEventSink.writePartition(rows.iterator, AvroEventSink.avroSchema,
      QueryEvent.schema.fieldNames, base, "dwhassessment_T_log", 0, 8L)
    val fs = visibleAvro(base)
    assert(fs.length == 1, s"want exactly one committed file, got ${fs.toSeq}")
    assert(AvroEventSink.readRecords(fs.head)
      .map(_.get("QueryId").toString).sorted == Seq("q1", "q2"))
    assert(allFiles(base).count(_.getName.endsWith(".tmp")) == 0)
  }

  test("speculative duplicate attempts converge to one complete file") {
    val base = Files.createTempDirectory("graft_avro_spec").toString
    val rows = eventRows("q1", "q2", "q3")
    // two attempts of the same partition race; both rename to the same
    // deterministic destination — last one atomically replaces, content equal
    AvroEventSink.writePartition(rows.iterator, AvroEventSink.avroSchema,
      QueryEvent.schema.fieldNames, base, "dwhassessment_T_log", 3, 11L)
    AvroEventSink.writePartition(rows.iterator, AvroEventSink.avroSchema,
      QueryEvent.schema.fieldNames, base, "dwhassessment_T_log", 3, 12L)
    val fs = visibleAvro(base)
    assert(fs.length == 1)
    assert(AvroEventSink.readRecords(fs.head).length == 3)
    assert(allFiles(base).count(_.getName.endsWith(".tmp")) == 0)
  }

  test("one day across many partitions writes in parallel (no day funnel)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_avro_par").toString
    val events = (1 to 64).map { i =>
      QueryEvent(QueryId = Some(s"q$i"),
        EndTime = Some(new Timestamp(1671969622334L)))
    }.toDF().repartition(8)
    AvroEventSink.write(events, base, "par", 1671969622334L)
    val files = new File(s"$base/2022-12-25").listFiles()
      .filter(_.getName.endsWith(".avro"))
    // a single day must NOT collapse to one writer task
    assert(files.length > 1, s"expected parallel writers, got ${files.length}")
    assert(files.flatMap(AvroEventSink.readRecords).length == 64)
  }
}

/** Clock-driven rollover goldens — the four reference cases
  * (DatePartitionedRecordsWriterFactoryTest.java:86-165) against
  * [[DatePartitionedAvroWriter]] with a tickable fixed clock. */
class RolloverWriterSpec extends AnyFunSuite {
  import java.time.{Clock, Duration, Instant, ZoneId, ZoneOffset}

  /** Reference TickableFixedClock (`Test.java:213-239`). */
  final class TickableClock(var now: Instant) extends Clock {
    override def getZone: ZoneId = ZoneOffset.UTC
    override def withZone(zone: ZoneId): Clock = this
    override def instant(): Instant = now
    def tick(d: Duration): Unit = now = now.plusNanos(d.toNanos)
  }

  private val T0 = Instant.parse("2022-12-25T12:00:22.3344Z")

  private def newWriter(base: File, clock: Clock) =
    new DatePartitionedAvroWriter(base, AvroEventSink.avroSchema, clock,
      "a665f132", Duration.ofMinutes(30))

  private def rec(id: String) = {
    val r = new org.apache.avro.generic.GenericData.Record(AvroEventSink.avroSchema)
    r.put("QueryId", id)
    AvroEventSink.avroSchema.getFields.forEach { f =>
      if (f.schema().getType == org.apache.avro.Schema.Type.UNION &&
        f.schema().getTypes.get(0).getType == org.apache.avro.Schema.Type.ARRAY)
        r.put(f.name(), new java.util.ArrayList[AnyRef]())
    }
    r
  }

  private def filesIn(dir: File): Array[File] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".avro"))

  test("same rollover window appends to the same file") {
    val base = Files.createTempDirectory("roll1").toFile
    val clock = new TickableClock(T0)
    val w = newWriter(base, clock)
    w.write(rec("id1"))
    clock.tick(Duration.ofMinutes(10))
    w.write(rec("id2"))
    w.close()
    val fs = filesIn(new File(base, "2022-12-25"))
    assert(fs.map(_.getName).toSet ==
      Set("dwhassessment_2022-12-25T120022.3344_a665f132.avro"))
    assert(AvroEventSink.readRecords(fs.head)
      .map(_.get("QueryId").toString) == Seq("id1", "id2"))
  }

  test("past the rollover interval opens a second file") {
    val base = Files.createTempDirectory("roll2").toFile
    val clock = new TickableClock(T0)
    val w = newWriter(base, clock)
    w.write(rec("id1"))
    clock.tick(Duration.ofMinutes(31))
    w.write(rec("id2"))
    w.close()
    val fs = filesIn(new File(base, "2022-12-25"))
    assert(fs.map(_.getName).toSet == Set(
      "dwhassessment_2022-12-25T120022.3344_a665f132.avro",
      "dwhassessment_2022-12-25T123122.3344_a665f132.avro"))
    val byFile = fs.sortBy(_.getName).map(f =>
      AvroEventSink.readRecords(f).map(_.get("QueryId").toString))
    assert(byFile.toSeq == Seq(Seq("id1"), Seq("id2")))
  }

  test("day change moves the directory") {
    val base = Files.createTempDirectory("roll3").toFile
    val clock = new TickableClock(T0)
    val w = newWriter(base, clock)
    w.write(rec("id1"))
    clock.tick(Duration.ofDays(1))
    w.write(rec("id2"))
    w.close()
    assert(filesIn(new File(base, "2022-12-25")).map(_.getName).toSet ==
      Set("dwhassessment_2022-12-25T120022.3344_a665f132.avro"))
    assert(filesIn(new File(base, "2022-12-26")).map(_.getName).toSet ==
      Set("dwhassessment_2022-12-26T120022.3344_a665f132.avro"))
  }

  test("closing without writing leaves no files") {
    val base = Files.createTempDirectory("roll4").toFile
    val w = newWriter(base, new TickableClock(T0))
    w.close()
    assert(Option(base.listFiles()).getOrElse(Array.empty).isEmpty)
  }

  /** Injects append failures: the first `failures` appends throw, later ones
    * pass through — the reference's transient-IO-error shape
    * (DatePartitionedRecordsWriterFactoryTest's failing writer). */
  private class FailingWriter(base: File, clock: Clock, var failures: Int,
                              retries: Int)
      extends DatePartitionedAvroWriter(base, AvroEventSink.avroSchema, clock,
        "a665f132", Duration.ofMinutes(30), maxWriteRetries = retries) {
    var opens = 0
    override protected def createDataFile(file: File)
        : org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord] = {
      opens += 1
      val dw = new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](AvroEventSink.avroSchema)
      new org.apache.avro.file.DataFileWriter[
          org.apache.avro.generic.GenericRecord](dw) {
        override def append(r: org.apache.avro.generic.GenericRecord): Unit = {
          if (failures > 0) {
            failures -= 1
            throw new org.apache.avro.AvroRuntimeException(
              new java.io.IOException("disk hiccup"))
          }
          super.append(r)
        }
      }.create(AvroEventSink.avroSchema, file)
    }
  }

  test("IO error resets the writer; next attempt lands in a fresh file") {
    // reference writer reset: DatePartitionedRecordsWriterFactory.java:109-114
    val base = Files.createTempDirectory("roll_err").toFile
    val clock = new TickableClock(T0)
    val w = new FailingWriter(base, clock, failures = 1, retries = 2)
    w.write(rec("id1")) // first append fails, reset, retry succeeds
    w.write(rec("id2"))
    w.close()
    assert(w.opens == 2, "failed writer must be discarded and reopened")
    val fs = filesIn(new File(base, "2022-12-25"))
    assert(fs.length == 1, s"partial garbage left behind: ${fs.toSeq}")
    assert(AvroEventSink.readRecords(fs.head)
      .map(_.get("QueryId").toString) == Seq("id1", "id2"))
  }

  test("retries exhausted propagates the failure and leaves no empty file") {
    val base = Files.createTempDirectory("roll_err2").toFile
    val clock = new TickableClock(T0)
    val w = new FailingWriter(base, clock, failures = 99, retries = 1)
    intercept[org.apache.avro.AvroRuntimeException] { w.write(rec("id1")) }
    w.close()
    assert(filesIn(new File(base, "2022-12-25")).isEmpty,
      "no record ever committed — the file must not survive")
    // a later write on the same (reset) writer still works once IO recovers
    w.failures = 0
    w.write(rec("id2"))
    w.close()
    val fs = filesIn(new File(base, "2022-12-25"))
    assert(fs.length == 1 &&
      AvroEventSink.readRecords(fs.head).map(_.get("QueryId").toString) == Seq("id2"))
  }

  test("reset keeps a file that already holds committed records") {
    val base = Files.createTempDirectory("roll_err3").toFile
    val clock = new TickableClock(T0)
    val w = new FailingWriter(base, clock, failures = 0, retries = 2)
    w.write(rec("id1"))          // lands in file A
    w.failures = 1
    w.write(rec("id2"))          // fails once: A kept (has id1), retry → fresh B
    w.close()
    val fs = filesIn(new File(base, "2022-12-25")).sortBy(_.getName)
    assert(fs.length == 2, s"got ${fs.map(_.getName).toSeq}")
    assert(fs.flatMap(AvroEventSink.readRecords)
      .map(_.get("QueryId").toString).sorted.toSeq == Seq("id1", "id2"))
  }

  test("size bound rolls the file within a rollover window") {
    // a burst inside one clock window must not grow a single container
    // file past what a binaryFile read task can hold: with a tiny byte
    // bound, consecutive same-instant writes split into _rN-suffixed
    // files, every record still lands exactly once
    val base = Files.createTempDirectory("rollsize").toFile
    val clock = new TickableClock(T0)
    val w = new DatePartitionedAvroWriter(base, AvroEventSink.avroSchema,
      clock, "a665f132", Duration.ofMinutes(30), maxFileBytes = 1L,
      sizeCheckEvery = 1L)
    (1 to 4).foreach(i => w.write(rec(s"id$i")))
    w.close()
    val fs = filesIn(new File(base, "2022-12-25"))
    assert(fs.length > 1, s"size trigger never fired: ${fs.mkString(",")}")
    assert(fs.forall(_.getName
      .startsWith("dwhassessment_2022-12-25T120022.3344_a665f132")), fs.toSeq)
    assert(fs.flatMap(AvroEventSink.readRecords)
      .map(_.get("QueryId").toString).sorted.toSeq ==
      Seq("id1", "id2", "id3", "id4"))
  }

  test("default size bound leaves small files alone (reference policy)") {
    val base = Files.createTempDirectory("rollsize2").toFile
    val clock = new TickableClock(T0)
    val w = newWriter(base, clock) // DefaultMaxFileBytes = 256 MB
    (1 to 50).foreach(i => w.write(rec(s"id$i")))
    w.close()
    assert(filesIn(new File(base, "2022-12-25")).length == 1)
  }

  test("rollover never crosses midnight even with a long interval") {
    // policy: min(now + interval, next UTC midnight) — ref :196-202
    val base = Files.createTempDirectory("roll5").toFile
    val clock = new TickableClock(Instant.parse("2022-12-25T23:50:00Z"))
    val w = new DatePartitionedAvroWriter(base, AvroEventSink.avroSchema,
      clock, "a665f132", Duration.ofHours(6))
    w.write(rec("id1"))
    clock.tick(Duration.ofMinutes(20)) // 00:10 next day — before 05:50
    w.write(rec("id2"))
    w.close()
    assert(filesIn(new File(base, "2022-12-25")).length == 1)
    assert(filesIn(new File(base, "2022-12-26")).length == 1)
  }
}
