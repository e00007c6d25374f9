package graft.sink

import graft.TestSpark
import graft.model.QueryEvent

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink layout semantics (O23–O24): per-day directories, bounded files,
  * lossless round-trip — the Spark re-expression of the reference's
  * DatePartitionedRecordsWriterFactoryTest.java:100-165 goldens. */
class EventSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ev(id: String, endMs: Long) = QueryEvent(
    QueryId = Some(id), EventType = Some("QUERY_COMPLETED"),
    StartTime = Some(new Timestamp(endMs - 1000)),
    EndTime = Some(new Timestamp(endMs)), Status = Some("SUCCESS"))

  test("per-day directories + round-trip (day-change golden :147-165)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString
    // 2022-12-25T12:00:22Z and +1 day — the reference's day-change fixture
    val events = Seq(
      ev("q1", 1671969622334L), ev("q2", 1671969622334L + 86400000L)).toDF()
    EventSink.writeBatch(events, dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("EventDate=2022-12-25", "EventDate=2022-12-26"))
    val back = EventSink.read(spark, dir)
    assert(back.count() == 2)
    // partition pruning: reading one day touches one partition
    val oneDay = back.filter(col("EventDate") === "2022-12-25")
    assert(oneDay.count() == 1)
    val pruned = oneDay.queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(EventDate"))
  }

  test("readLatestEvents recovers exactly-once from a duplicated batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink_dup").toString
    val batch = Seq(ev("q1", 1671969622334L), ev("q2", 1671969622334L)).toDF()
    // the at-least-once hazard: a mid-commit failure makes the retry append
    // the whole batch a second time
    EventSink.writeBatch(batch, dir)
    EventSink.writeBatch(batch, dir)
    assert(EventSink.readAsEvents(spark, dir).count() == 4)
    val deduped = EventSink.readLatestEvents(spark, dir)
    assert(deduped.count() == 2)
    assert(deduped.select("QueryId").as[String].collect().sorted
      .sameElements(Array("q1", "q2")))
  }

  test("maxRecordsPerFile bounds file size (rollover analog :121-145)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink2").toString
    val events = (1 to 10).map(i => ev(s"q$i", 1671969622334L)).toDF()
      .coalesce(1)
    EventSink.writeBatch(events, dir, maxRecordsPerFile = 4)
    val files = new java.io.File(s"$dir/EventDate=2022-12-25")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3) // 4+4+2
    assert(EventSink.read(spark, dir).count() == 10)
  }

  test("O25 reference file naming: dwhassessment_<ts>_<loggerId> (:208-214)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink4").toString
    EventSink.writeBatch(Seq(ev("q1", 1671969622334L)).toDF().coalesce(1), dir)
    val n = EventSink.applyReferenceNaming(dir, "a665f132ab", 1671969622334L)
    assert(n == 1)
    val names = new java.io.File(s"$dir/EventDate=2022-12-25")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.toSeq == Seq("dwhassessment_2022-12-25T120022.334_a665f132ab_0.parquet"))
    assert(EventSink.read(spark, dir).count() == 1) // still readable
  }

  test("empty partitions produce no directories (no-empty-file golden :86-97)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink3").toString
    EventSink.writeBatch(Seq.empty[QueryEvent].toDF(), dir)
    val dirs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
    assert(dirs.isEmpty)
  }

  test("concurrent appends to one path from one JVM lose nothing") {
    // Two drainers sharing a log tree append at the same time. The commit
    // protocol stages every job under `<path>/_temporary` and the first job
    // to commit deletes that directory, taking the other job's staged task
    // output with it (or failing its commit), unless the appends are
    // serialized per path.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink_conc").toString
    val writers = 2
    val rounds = 6
    val perBatch = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val jobs = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until rounds).foreach { r =>
            val batch = (0 until perBatch)
              .map(i => ev(s"w${w}_r${r}_$i", 1671969622334L)).toDF()
              .repartition(2)
            EventSink.writeBatch(batch, dir)
          }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
    val ids = EventSink.read(spark, dir).select("QueryId").as[String].collect()
    assert(ids.length == writers * rounds * perBatch,
      s"${ids.length} rows of ${writers * rounds * perBatch}")
    assert(ids.distinct.length == ids.length, "no batch landed twice")
  }
}
