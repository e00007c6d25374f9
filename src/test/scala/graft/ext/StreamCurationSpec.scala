package graft.ext

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties for the streaming near-dup admission gate
  * ([[StreamCuration.xStreamNeardup]]) beyond its DuckDB oracle row. */
class StreamCurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.Sf0001

  test("stream neardup: verdicts equal the batch multi-band rule") {
    val got = StreamCuration.xStreamNeardup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // the batch rule, derived from the independently-oracle-checked
    // candidate generator: a doc is near_dup iff it appears as the LARGER
    // id of any OR-8 candidate pair (= shares a band with a smaller doc)
    val staleDocs = Dedup.multibandCandidates(spark, dir, bands = 8)
      .collect().map(_.getLong(1)).toSet
    val nDocs = graft.Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull).count()
    assert(got.size == nDocs)
    got.foreach { case (id, (nStale, verdict)) =>
      assert(nStale >= 0L && nStale <= 8L, s"doc $id n_stale $nStale")
      assert((verdict == "near_dup") == (nStale > 0L), s"doc $id inconsistent")
      assert((verdict == "near_dup") == staleDocs(id),
        s"doc $id verdict $verdict disagrees with the batch band rule")
    }
    assert(got.values.exists(_._2 == "near_dup"), "no near-dup found at all")
    assert(got.values.exists(_._2 == "admit"), "everything flagged near-dup")
  }

  test("stream neardup: state crosses micro-batches without changing truth") {
    // one batch (no state handoff) and four batches (band minima must
    // survive the state store between triggers) are the same contract —
    // any divergence means cross-batch state is wrong
    val one = StreamCuration.xStreamNeardup(spark, dir, nBatches = 1)
      .collect().map(_.toSeq)
    val four = StreamCuration.xStreamNeardup(spark, dir, nBatches = 4)
      .collect().map(_.toSeq)
    assert(one.toSeq == four.toSeq)
  }

  test("stream neardup: snapshot-compaction restart equals the single run") {
    // the compacted run folds leg-1 state into a batch signature snapshot
    // and starts a FRESH stream (new checkpoint + state store) from it —
    // the verdicts must be indistinguishable from never restarting, which
    // is also why the query shares x_stream_neardup's oracle verbatim
    val single = StreamCuration.xStreamNeardup(spark, dir, nBatches = 4)
      .collect().map(_.toSeq)
    val compacted = StreamCuration.xStreamNeardupCompacted(spark, dir,
      nBatches = 4, splitAt = 2).collect().map(_.toSeq)
    assert(single.toSeq == compacted.toSeq)
    // a doc whose near-twin was only seen BEFORE the restart must still be
    // blocked — i.e. some near_dup verdicts must cross the split (doc_id
    // staging: leg 2 docs are the upper half); vacuity guard for the above
    val byId = compacted.map(s =>
      s.head.asInstanceOf[Long] -> s(2).asInstanceOf[String]).toMap
    val maxId = byId.keys.max
    assert(byId.exists { case (id, v) => id > maxId / 2 && v == "near_dup" },
      "no near-dup verdict in the restarted leg — compaction untested")
  }

  test("stream neardup TTL: expiry re-admits, refresh extends, store shrinks") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory(TestSpark.scratch, "ndttl_fix").toString
    val t = "alpha beta gamma delta epsilon zeta"
    val u = "one two three four five six"
    Seq((0L, t), (1L, t), (2L, u), (3L, t)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    // four batches of one doc each (doc_id quantile split); identical text
    // = identical bands, so collisions are total and deterministic
    val unbounded = StreamCuration.xStreamNeardup(spark, tmp, nBatches = 4)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(unbounded == Map(0L -> "admit", 1L -> "near_dup",
      2L -> "admit", 3L -> "near_dup"))
    // ttl = 1 batch interval: doc 1 (one interval after doc 0's claim) is
    // still blocked AND refreshes the claim; doc 3 arrives two intervals
    // after the last touch -> the claim is expired -> re-admitted. This is
    // the semantic (in-function) expiry, deterministic regardless of when
    // the state store physically evicts.
    val (ttlDf, trace) = StreamCuration.xStreamNeardupTtlTraced(
      spark, tmp, bands = 8, nBatches = 4, ttlBatches = 1)
    val ttl = ttlDf.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ttl == Map(0L -> "admit", 1L -> "near_dup",
      2L -> "admit", 3L -> "admit"),
      s"ttl verdicts $ttl: doc1 in-window must block, doc3 must re-admit")
    assert(trace.nonEmpty && trace.forall(_ > 0), s"no state trace: $trace")
  }

  test("stream neardup TTL: physical eviction bounds the state store") {
    // corpus-scale run: without TTL the store holds every distinct
    // (band_idx, band_value) ever seen; with TTL, bands last touched
    // > ttl before the final batch must have been evicted by EventTime-
    // Timeout, so the final numRowsTotal is strictly below the unbounded
    // total. (The bound a year-long ingest actually cares about.)
    val (_, trace) = StreamCuration.xStreamNeardupTtlTraced(
      spark, dir, bands = 8, nBatches = 4, ttlBatches = 1)
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val distinctBands = docs.flatMap { case (_, text) =>
      Grams.bandMins(Grams.distinct(text.split(" ", -1), 3), 8)
        .zipWithIndex.map(_.swap)
    }.distinct.length
    assert(trace.nonEmpty, "stream reported no state metrics")
    assert(trace.last < distinctBands,
      s"final state rows ${trace.last} not below unbounded total " +
        s"$distinctBands — EventTimeTimeout eviction never fired")
  }

  test("stream neardup: arrival staging follows the arrival-sequence rule") {
    // production semantics: FIRST CRAWLED wins. The staging assigns every
    // doc an md5-derived batch + in-batch rank; the verdict frame must
    // equal the batch rule applied to that arrival sequence — recomputed
    // here independently, driver-side. (No cross-order count invariant is
    // asserted: which docs win, and how many, legitimately depend on the
    // order — see the Staging scaladoc.)
    val nBatches = 4
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val seqOf = docs.map { case (id, _) =>
      val h = md5hex(id.toString)
      val batch = (java.lang.Long.parseLong(h.take(8), 16) % nBatches).toInt
      (id, batch, h)
    }.groupBy(_._2).toSeq.flatMap { case (batch, rows) =>
      rows.sortBy(r => (r._3, r._1)).zipWithIndex.map { case (r, i) =>
        r._1 -> (batch.toLong * (1L << 32) + i + 1)
      }
    }.toMap
    val bands = docs.map { case (id, text) =>
      id -> Grams.bandMins(Grams.distinct(text.split(" ", -1), 3), 8) }.toMap
    val expected = docs.map { case (id, _) =>
      val stale = (0 until 8).count { b =>
        docs.exists { case (o, _) =>
          o != id && seqOf(o) < seqOf(id) && bands(o)(b) == bands(id)(b) }
      }
      id -> ((stale.toLong, if (stale > 0) "near_dup" else "admit"))
    }.toMap
    val got = StreamCuration.xStreamNeardup(spark, dir,
        staging = StreamCuration.Staging.Arrival)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got == expected,
      s"${got.count(kv => expected(kv._1) != kv._2)} docs diverge from " +
        "the arrival-sequence rule")
    // the arrival order must genuinely differ from doc_id order for this
    // test to mean anything
    val docIdRun = StreamCuration.xStreamNeardup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.exists { case (id, (_, v)) => docIdRun(id) != v },
      "arrival staging produced doc_id-order verdicts — staging inert?")
  }

  test("bounded curate dedup: in-window dups drop, evicted keys re-admit") {
    // deterministic staged event times through the exact operator chain
    // xStreamCurate deduplicates with (boundedDedup = watermark +
    // dropDuplicatesWithinWatermark):
    //   batch0: A@t0, B@t0          -> both first-seen, emitted
    //   batch1: A@t0+30m (in-window dup: dropped), C@t0+3h (new: emitted;
    //           advances the watermark to t0+2h, past A/B's t0+1h expiry)
    //   batch2: B@t0+4h -> still dropped: eviction is LAZY, the store
    //           purges expired keys at the END of the batch in which the
    //           watermark crossed them (batch-granular, the documented
    //           semantics), so B's b0 entry is gone only after b2
    //   batch3: B@t0+6h -> state evicted -> RE-ADMITTED
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory(TestSpark.scratch, "bdedup").toString
    val src = new java.io.File(s"$tmp/in"); src.mkdirs()
    val t0 = 1700000000000L
    val h = 3600 * 1000L
    val batches = Seq(
      Seq(("A", t0), ("B", t0)),
      Seq(("A", t0 + h / 2), ("C", t0 + 3 * h)),
      Seq(("B", t0 + 4 * h), ("C", t0 + 4 * h)),
      Seq(("B", t0 + 6 * h)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val part = s"$tmp/stage_$i"
      rows.toDF("k", "ms")
        .select(col("k"), timestamp_millis(col("ms")).as("ing_ts"))
        .coalesce(1).write.mode("overwrite").parquet(part)
      val file = new java.io.File(part).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"b_$i%02d.parquet")
      java.nio.file.Files.move(file.toPath, dst.toPath)
      assert(dst.setLastModified(t0 + i * 1000L))
    }
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val raw = spark.readStream.schema("k STRING, ing_ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = StreamCuration.boundedDedup(raw, "1 hour", "k")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read
      .schema("k STRING, ing_ts TIMESTAMP").parquet(out)
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 1L, "B" -> 2L, "C" -> 1L),
      s"got $got — expected A deduped, B evicted+readmitted, C deduped")
  }
}
