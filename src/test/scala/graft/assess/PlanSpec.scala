package graft.assess

import graft.{SparkEntry, TestSpark}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the properties that decide whether these plans
  * survive a 1000-executor / 100 TB scale-up: filters reach the parquet
  * scan, scans prune columns, small dimensions broadcast, hot paths stay in
  * whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.Sf0001

  private def planOf(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q1: shipdate filter is pushed to the parquet scan; columns pruned") {
    val plan = StarQueries.q1PricingSummary(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$plan")
    // projection needs 7 columns; the scan must not read the other 4
    assert(plan.contains("ReadSchema") && !plan.contains("l_orderkey"),
      s"unused columns not pruned:\n$plan")
  }

  test("q5: all four dimension joins broadcast; fact shuffles at most once") {
    val plan = planOf(StarQueries.q5NationRevenue(spark, dir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$plan")
    assert(shuffles <= 2, s"fact side should shuffle <=2x (agg), got $shuffles:\n$plan")
  }

  test("a2: aggregate is partial+final (map-side combine before shuffle)") {
    val plan = planOf(Assessments.a2UserRollup(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("a1: pre-aggregated join keeps shuffle payload at one row per user") {
    val plan = planOf(Assessments.a1LifecyclePairs(spark, dir))
    // both sides aggregate BEFORE the join — look for partial aggregates
    // upstream of the join, and event_type filters pushed to the scans
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,signup)")
      || plan.contains("EqualTo(event_type,signup)"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 4, plan)
  }

  test("capture pipeline is one narrow codegen stage (no shuffle)") {
    // Parquet-backed input (a literal relation would constant-fold away the
    // whole pipeline into a LocalTableScan and leave nothing to assert on).
    val raw = graft.Tables.events(spark, dir)
      .selectExpr("'PRE' hookType", "cast(event_id as string) queryId",
        "'2.2.0' hiveVersion", "cast(user_id as string) ugiUserName",
        "true isHs2", "unix_millis(ts) startTimeMs")
      .selectExpr("hookType", "queryId", "cast(null as string) queryText",
        "cast(null as string) queryType", "cast(null as string) operationId",
        "cast(null as string) sessionId", "cast(null as string) threadName",
        "hiveVersion", "cast(null as string) clientIp",
        "cast(null as string) hiveInstanceAddress",
        "cast(null as string) defaultDatabase", "cast(null as string) errorMessage",
        "cast(null as string) userName", "ugiUserName", "isHs2",
        "startTimeMs", "cast(0 as long) endTimeMs",
        "cast(null as string) executionEngine",
        "cast(array() as array<struct<type:string,name:string>>) entities",
        "cast(array() as array<struct<engine:string,llap:boolean,ddl:boolean>>) tasks",
        "map('a','b') conf", "map('k', cast(1 as long)) perf",
        "cast(null as array<array<map<string,map<string,bigint>>>>) tezCounters",
        "cast(null as array<array<map<string,map<string,bigint>>>>) mrCounters",
        "cast(array() as array<string>) jobIds")
    val out = graft.capture.CapturePipeline.events(raw)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"capture pipeline must not shuffle:\n$plan")
    // scan + base projection codegen ("*(1)"); the final projection holds
    // higher-order array functions, which Spark evaluates outside
    // whole-stage codegen by design — still a single narrow stage.
    assert(plan.contains("*(1)"), s"capture scan should codegen:\n$plan")
  }

  test("fused cosine_sim runs inside whole-stage codegen over a real scan") {
    graft.functions.CosineSimilarity.register(spark)
    // parquet-backed input — literals would constant-fold the expression away
    val df = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("cast(embedding as array<double>) v")
      .selectExpr("cosine_sim(v, v) as sim")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"), plan)
    val sims = df.collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9)) // self-similarity
  }

  test("embedding near-dup joins on LSH bands, never broadcasts the corpus") {
    val df = graft.ext.Similarity.xEmbeddingNeardup(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate generation must be per-band equi-joins
    assert(plan.contains("band0") && plan.contains("band1"), plan)
  }

  test("a5 approx twin: bottom-k window gets the rank-limit pushdown") {
    // The KMV arm filters row_number() <= k; Spark must plan a
    // WindowGroupLimit (partial per-partition top-k BEFORE the shuffle) —
    // without it the window sorts every (type, user) row per type, which
    // is the skewed-shuffle shape the scaladoc promises we avoid.
    val plan = planOf(Assessments.a5ApproxTwin(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("triangles: wedge and closing joins are equi-joins, never cartesian") {
    // The degree-oriented enumeration must plan as hash/sort-merge
    // equi-joins on src / (src, dst) — a cartesian or nested-loop here
    // would be quadratic in the edge list and die on any real dup-graph.
    import spark.implicits._
    val edges = (1L to 40L).map(i => (0L, i)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val df = graft.ext.Curation.trianglesDegreeOriented(
      edges.toDF("doc_a", "doc_b"))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("cosine_sim rejects length-mismatched vectors") {
    graft.functions.CosineSimilarity.register(spark)
    // parquet-backed so it exercises the codegen path, not just eval
    val df = graft.Tables.load(spark, dir, "embeddings")
      .selectExpr("cast(embedding as array<double>) v")
      .selectExpr("cosine_sim(v, slice(v, 1, 3)) as sim")
    val e = intercept[Throwable] { df.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("length mismatch")), e.toString)
  }

  test("minhash pair queries never exchange shingle sets") {
    // VERDICT r1 #3: the corpus-wide shuffle must carry fixed-width band
    // signatures, not collect_set(shingle) arrays
    for (q <- Seq(graft.ext.Dedup.xMinhashPairs(spark, dir),
                  graft.ext.Dedup.xMinhashPairs2Band(spark, dir))) {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_set"), plan.take(2000))
      assert(!plan.contains("collect_list"), plan.take(2000))
    }
  }

  test("cluster labels broadcast back to the corpus; keeper agg is partial") {
    // the label frame is O(near-dup docs) — the corpus-side join must be a
    // broadcast, never a corpus shuffle, and the keeper max-of-struct must
    // combine map-side (no window over whole clusters)
    val plan = planOf(graft.ext.Curation.xCanonicalDocs(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("partial_"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("vocab top-k is TakeOrdered, never a global sort") {
    val plan = planOf(graft.ext.Curation.xVocabTopk(spark, dir, 50))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("quality gate shuffles only for the presentation sort") {
    // the gate itself is one narrow projection; the only exchange allowed
    // is the final orderBy's range partitioning (the driver-compare sort)
    val plan = planOf(graft.ext.TextOps.xQualityGate(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(!plan.contains("BroadcastExchange"), plan.take(3000))
  }

  test("kmeans step: centroids broadcast, update partial-aggregates") {
    val df = graft.ext.Similarity.xKmeansStep(spark, dir)
    val plan = planOf(df)
    // k centroid vectors ride a broadcast nested-loop (tiny side by
    // construction); the corpus side must NOT broadcast
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // centroid update combines (cell, dim) partials map-side
    assert(plan.contains("partial_"), plan.take(3000))
  }

  test("bigram logprob: counts partial-aggregate, no vector collection") {
    val df = graft.ext.TextOps.xBigramLogprob(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("collect_set") && !opt.contains("collect_list"),
      opt.take(2000))
    val plan = planOf(df)
    assert(plan.contains("partial_"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("embed project is one narrow pass: no joins, no hash exchange") {
    val df = graft.ext.Similarity.xEmbedProject(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("decontamination broadcasts the eval set, never the corpus") {
    val df = graft.ext.Curation.xDecontaminate(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("tfidf joins on the term key without broadcasting the vocabulary") {
    val df = graft.ext.Curation.xTfidfTop(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // vocabulary side must arrive via shuffle (SortMergeJoin/ShuffledHash),
    // not a driver-sized broadcast — it is unbounded at corpus scale.
    // (AQE may still choose broadcast at toy scale; assert the logical
    // shape instead: an equi-join on tok exists and no cartesian product.)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(df.queryExecution.optimizedPlan.toString.contains("tok"), plan)
  }

  test("boilerplate never windows over the shingle partition") {
    // VERDICT r2 #2: a window on the raw shingle key funnels the hottest
    // (by definition, the boilerplate) shingle through one task; document
    // frequency must be a partial-aggregating groupBy joined back
    val df = graft.ext.Curation.xBoilerplate(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"skew-prone window found:\n${plan.take(2000)}")
    assert(plan.contains("partial_count"), s"dfreq must map-side combine:\n${plan.take(2000)}")
  }

  test("query builders run zero jobs at plan-construction time") {
    // VERDICT r2 #3: corpus totals belong in the plan (one-row broadcast
    // aggregate), not in an eager driver-side .count() side job
    // tiny parquet schema-inference jobs ("parquet at ...") are fine; a
    // reintroduced .count() would surface as a "count at ..." stage
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        j.stageInfos.foreach(s => stages.add(s.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ext.TextOps.xUnigramLogprob(spark, dir)
      graft.ext.Curation.xTfidfTop(spark, dir)
      Thread.sleep(1500) // listener bus delivery is async; actions are not
      import scala.jdk.CollectionConverters._
      val offending = stages.asScala.filterNot(_.startsWith("parquet at"))
      assert(offending.isEmpty,
        s"plan construction ran eager job stage(s): $offending")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("curate capstone reads the corpus text at most twice") {
    // text pass 1: keeper aggregate in the final plan; text pass 2: the
    // materialized (localCheckpoint) shingle stream four consumers share.
    // A count-star scan (ReadSchema struct<>) is metadata-only and free.
    val df = graft.ext.Curation.xCurateCorpus(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val textScans = "FileScan parquet \\[[^\\]]*text".r.findAllIn(plan).length
    assert(textScans <= 1,
      s"capstone plan re-reads the text column $textScans times:\n${plan.take(2000)}")
    assert(plan.contains("ExistingRDD"),
      "shingle stream should come from the materialized checkpoint")
  }

  test("a6 scale twin has no single-partition window") {
    // a6_value_quartiles keeps the global ntile window deliberately (oracle
    // parity); the scale path must never funnel through one reducer
    val plan = planOf(Assessments.a6QuartilesScaled(spark, dir))
    // no window at all: buckets come from broadcast cut points (the one
    // SinglePartition exchange left is the one-row global cuts aggregate)
    assert(!plan.contains("Window"),
      s"scale twin funnels rows through a window:\n${plan.take(2000)}")
  }

  test("jaccard ngram: df-capped posting lists, candidate-bounded scoring") {
    // r11 shape (the 30x probe caught the r9 self-join going quadratic in
    // bucket population): ONE expansion of the bigram pipeline into the
    // df-capped posting-list aggregate, in-bucket pair generation, and
    // array_intersect only on the candidate-bounded frame (the edit-pairs
    // levenshtein pattern — per-pair set algebra was the anti-pattern only
    // on the QUADRATIC in-bucket pair set, where it measured 92 s at sf0.1)
    // the PLAN surface: same pipeline as xJaccardNgram with the persists
    // registered but not yet released (the public query materializes and
    // then drops its caches — r14 lifecycle — so its returned frame is a
    // checkpoint scan with nothing left to inspect)
    val df = graft.ext.Dedup.xJaccardNgramPlan(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("collect_list("),
      s"posting-list aggregate missing:\n${opt.take(2000)}")
    // the sort lives OUTSIDE the aggregate, after the df-cap filter, so
    // only <=dfCap-element arrays are ever sorted — sorting inside the
    // aggregate would sort the heaviest capped lists, twice (review r11)
    assert(opt.contains("sort_array(entries"),
      s"pair expansion must sort the capped posting lists:\n${opt.take(2000)}")
    assert(!opt.contains("sort_array(collect_list("),
      s"sort must not run inside the shared aggregate:\n${opt.take(2000)}")
    // r13 shape: the shingled docs AND the grouped gram index are both
    // persisted SERIALIZED — the candidate and capped-count branches read
    // the index CACHE (one gram shuffle, computed once, the invariant
    // that matters when exchanges cross a real cluster's network) and the
    // exact-scoring sets frames read the docs cache (one shingle pass —
    // measured as the dominant local cost; honest cold r14 numbers:
    // sf0.1 ~4.3 s, 30x 33-38 s vs the cache-free shape's 131 s, see
    // Dedup.xJaccardNgram). The cache replaces the r11 ReusedExchange
    // pin: plan-identity reuse broke the moment one consumer's pruning
    // diverged, while a cache is robust to AQE re-planning.
    assert(opt.contains("InMemoryRelation"),
      s"shared frames must be cached:\n${opt.take(2000)}")
    val plan = planOf(df)
    assert(plan.split("InMemoryTableScan", -1).length - 1 >= 4,
      s"both index branches and both sets sides must read the caches:\n${
        plan.take(3000)}")
    // serialized storage, not deserialized: gram arrays are 3-5x larger
    // deserialized and squeezed execution memory at the 100x probe
    // (localCheckpoint variant measured leg exponent 1.47 vs 0.95)
    assert(plan.contains("StorageLevel(disk, memory, 1 replicas)") &&
      !plan.contains("StorageLevel(disk, memory, deserialized"),
      s"caches must be MEMORY_AND_DISK_SER:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the plan surface leaves its persists registered by design — drop them
    // so later suites' string-count plan assertions stay cache-free
    spark.catalog.clearCache()
  }

  test("jaccard/LSH family releases its caches when the query completes") {
    // VERDICT r13 #2: the family persisted corpus-sized frames and released
    // nothing — every query leaked serialized blocks into a long-lived
    // session. The queries now materialize their (small) result and drop
    // the caches on the way out: after any of them, the CacheManager must
    // be empty (localCheckpoint blocks are RDD-scoped, not CacheManager
    // entries, and the bench's inter-query unpersist handles those).
    spark.catalog.clearCache()
    for (q <- Seq("x_jaccard_ngram", "x_lsh_recall", "x_jaccard_recall",
      "x_multiband_recall")) {
      SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left cached plans behind")
    }
  }

  /** Every node of an executed plan, reading through AQE wrappers and
    * query stages (whose children are hidden behind `.plan`). */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case q: QueryStageExec => q +: nodesOf(q.plan)
    case _ => p +: p.children.flatMap(nodesOf)
  }

  /** The first node under `p` that is not a codegen, columnar or query
    * stage wrapper — what an exchange actually reads. */
  @scala.annotation.tailrec
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case c: ColumnarToRowExec => unwrap(c.child)
    case q: QueryStageExec => unwrap(q.plan)
    case _ => p
  }

  test("cached frames get data-sized partitions, no exchange above a cache") {
    // Persisted frames are AQE-coalesced like any other exchange output:
    // without that the gram index keeps all 256 initialPartitionNum
    // partitions and every scan of it runs 256 tasks for a few KB
    spark.catalog.clearCache()
    val df = graft.ext.Dedup.xJaccardNgramPlan(spark, dir)
    df.collect()
    val scans = nodesOf(df.queryExecution.executedPlan).collect {
      case s: InMemoryTableScanExec => s
    }
    val index = scans.filter(_.output.exists(_.name == "entries"))
    assert(index.nonEmpty, s"gram index cache scan missing:\n${
      df.queryExecution.executedPlan.toString.take(3000)}")
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    index.foreach { s =>
      val n = s.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions
      assert(n <= maxParts,
        s"cached gram index has $n partitions, shuffle.partitions $maxParts")
    }
    spark.catalog.clearCache()
    // the coalesced cache must not make consumers re-shuffle it: capture
    // every executed plan the four persisted-frame queries run (caches are
    // released inside the query, so the returned frame shows none of them)
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val markerDf = spark.range(1).toDF()
    val markerQe = markerDf.queryExecution
    var marker = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized {
          if (qe eq markerQe) marker = true
          else plans += f -> qe.executedPlan
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (q <- Seq("x_jaccard_ngram", "x_lsh_recall", "x_multiband_recall",
          "x_jaccard_recall"))
        SparkEntry.queries(q)(spark, dir).collect()
      // listener events arrive in order: once the marker action is seen,
      // every plan the queries ran has been recorded
      markerDf.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.synchronized(marker) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(plans.synchronized(marker), "execution listener never drained")
    } finally spark.listenerManager.unregister(listener)
    val cached = plans.filter { case (_, p) =>
      nodesOf(p).exists(_.isInstanceOf[InMemoryTableScanExec]) }
    assert(cached.nonEmpty, "the persisted-frame queries read no cache")
    for ((f, p) <- cached; e <- nodesOf(p).collect { case e: Exchange => e })
      assert(!unwrap(e.child).isInstanceOf[InMemoryTableScanExec],
        s"$f: exchange directly above a cache scan:\n${p.toString.take(3000)}")
  }

  test("repeated dedup queries reuse their generated classes") {
    // the codegen class cache must hold a session's working set: at Spark's
    // default of 100 entries one pass of these queries evicts its own
    // classes and the next pass compiles them all again. A repeat may
    // still compile a few classes: AQE re-plans in stage-completion order,
    // so a run can produce a stage plan (a join turned broadcast inside a
    // different stage) that no earlier run did. Two warm rounds see most
    // of those variants; what is left is bounded well below a pass.
    // x_stream_neardup has its own bound: its batch legs run on one reused
    // stream session and hit the cache, but every streaming start clones
    // that session, and the clone's class loader compiles the stream's
    // classes again (a fresh child session per call compiled about 40).
    val qs = Seq("x_jaccard_ngram", "x_minhash_pairs_multiband",
      "x_curate_corpus", "x_stream_neardup")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def round(): Seq[(String, Long)] = qs.map { q =>
      val before = compiles.getCount
      SparkEntry.queries(q)(spark, dir).collect()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      q -> (compiles.getCount - before)
    }
    round()
    round()
    val fresh = round()
    val (stream, batch) = fresh.partition(_._1 == "x_stream_neardup")
    assert(batch.map(_._2).sum <= 10,
      s"a warm round compiled classes afresh: $fresh")
    assert(stream.map(_._2).sum <= 20,
      s"a warm x_stream_neardup compiled classes afresh: $fresh")
  }

  test("sequence packing: sharded window, never a single-partition funnel") {
    val plan = planOf(graft.ext.Curation.xPackSequences(spark, dir))
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing funnels the corpus through one reducer:\n${plan.take(2000)}")
  }

  test("chunking is a narrow map: no hash exchange before the output sort") {
    val plan = planOf(graft.ext.Curation.xChunkDocuments(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking shuffles:\n${plan.take(2000)}")
  }

  test("incremental dedup joins batch against index, never cross joins") {
    val plan = planOf(graft.ext.Dedup.xDedupIncremental(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("containment pairs: ids+sizes only, no per-pair set algebra") {
    // same guard as the jaccard rewrite: scoring must stay an equi-join +
    // count over exploded shingles, never array_intersect on full arrays
    val opt = graft.ext.Dedup.xContainmentPairs(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("array_intersect"), opt.take(2000))
    assert(!opt.contains("array_union"), opt.take(2000))
  }

  test("corpus overlap: bounded collect_set, never a shingle self-join") {
    val df = graft.ext.Curation.xCorpusOverlap(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    // per-shingle source sets come from ONE aggregate over the checkpointed
    // (source, shingle) frame; the only join is the tiny sizes dimension
    assert(opt.contains("collect_set"), opt.take(2000))
    assert("Join".r.findAllIn(opt).length <= 1,
      s"overlap joins more than the sizes dim:\n${opt.take(2000)}")
  }

  test("semdedup: one cell equi-join, nothing quadratic or broadcast-corpus") {
    val plan = planOf(graft.ext.Similarity.xSemdedup(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("source budget: rates ride broadcasts, corpus join is never sort-merge") {
    val plan = planOf(graft.ext.Curation.xSourceBudget(spark, dir))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"per-source rates should broadcast, not shuffle the corpus:\n${plan.take(2000)}")
  }

  test("repeated spans: map-side-combinable dup detection, no set algebra") {
    val df = graft.ext.Dedup.xRepeatedSpans(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    // duplication is min(doc)!=max(doc) per gram — never a count-distinct
    // expansion over the gram stream, never per-pair array algebra
    assert(!opt.contains("array_intersect"), opt.take(2000))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("pq codes: codebook broadcasts, argmin is an aggregate not a window") {
    val df = graft.ext.Similarity.xPqCodes(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastExchange"),
      s"codebook should broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"nearest-centroid must be min(struct), not row_number:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ivfpq: codebook + distance table broadcast, ADC side never cartesian") {
    val df = graft.ext.Similarity.xAnnIvfpq(spark, dir)
    val plan = planOf(df)
    // the codebook, query set and per-query distance table are the tiny
    // sides — every corpus-touching join must be broadcast-hash, and the
    // only permitted nested-loop is tiny-x-tiny (qs x cb building the
    // |q|*m*k table); the corpus must never be on either side of one
    assert(plan.contains("BroadcastExchange"),
      s"distance table should broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 2, s"$bnl nested-loop joins — corpus leaked into one?\n" +
      plan.take(2000))
  }

  test("zipf fit: head selection is TakeOrdered, never a full sort") {
    val plan = planOf(graft.ext.Curation.xZipfFit(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-256 head must be TakeOrdered:\n${plan.take(2000)}")
  }

  test("kmv setops: pair merge joins checkpointed sketches, no corpus rescan") {
    val plan = planOf(graft.ext.Dedup.xKmvSetops(spark, dir))
    // the corpus-wide sketch aggregate ran once, eagerly; the pair plan
    // touches only the #sources-row checkpointed frame
    assert(!plan.contains("Scan parquet"),
      s"pair join must not rescan the corpus:\n${plan.take(2000)}")
    assert("Join".r.findAllIn(plan).length <= 1, plan.take(2000))
  }

  test("dsir select: distributions broadcast, selection is TakeOrdered") {
    val plan = planOf(graft.ext.Curation.xDsirSelect(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the 256-row distribution must broadcast onto the token stream:\n${plan.take(2000)}")
  }

  test("zorder layout: value-range file placement, never a global-sort window") {
    val plan = planOf(graft.ext.Layout.xZorderLayout(spark, dir))
    assert(!plan.contains("Window"),
      s"file placement must be value-range bucketing, not ntile:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("cdc chunks: windows partition on doc_id, never a global funnel") {
    val plan = planOf(graft.ext.Dedup.xCdcChunks(spark, dir))
    assert(plan.contains("Window"), "expected the per-doc running count")
    // every window exchange must hash on doc_id; a SinglePartition window
    // would serialize the whole corpus through one reducer
    assert(!plan.contains("Exchange SinglePartition"),
      s"global funnel in the chunk plan:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ann recall: query set broadcasts in both arms, no cartesian") {
    val plan = planOf(graft.ext.Similarity.xAnnRecall(spark, dir))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      s"an unbroadcast arm would pair corpus x corpus:\n${plan.take(2000)}")
  }

  test("lsh recall: truth is the explode-join, never per-pair set algebra") {
    val df = graft.ext.Dedup.xLshRecall(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("array_intersect"), opt.take(2000))
    val plan = planOf(df)
    // the only nested-loop is the 7-row threshold dim riding a broadcast
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("vocab coverage: head is TakeOrdered, never a full vocab sort") {
    val plan = planOf(graft.ext.Curation.xVocabCoverage(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + k-row merge:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("cdc upsert + ohlc: struct-extrema aggregates, never a window sort") {
    val up = planOf(graft.ext.Changelog.xCdcUpsert(spark, dir))
    assert(!up.contains("Window"),
      s"latest-wins must be an aggregate, not row_number:\n${up.take(2000)}")
    val ohlc = planOf(graft.ext.Changelog.xOhlcDaily(spark, dir))
    assert(!ohlc.contains("Window"),
      s"open/close must ride min_by/max_by:\n${ohlc.take(2000)}")
  }

  test("table stats: per-column aggregates, never the multi-distinct Expand") {
    val plan = planOf(graft.ext.Changelog.xTableStats(spark, dir))
    assert(!plan.contains("Expand"),
      s"multi-distinct Expand replicates every row 5x:\n${plan.take(2000)}")
  }

  test("snapshot diff: full-outer on fingerprints, no cartesian") {
    val opt = graft.ext.Changelog.xSnapshotDiff(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("FullOuter"), s"expected full outer:\n${opt.take(2000)}")
    val plan = planOf(graft.ext.Changelog.xSnapshotDiff(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("stable ids: rank window is partition-local, offsets broadcast back") {
    val plan = planOf(graft.ext.Changelog.xStableIds(spark, dir))
    // the corpus-sized rank window must carry the pid partition key; the
    // only unpartitioned window is the #partitions-row offset cumsum
    assert(plan.contains("windowspecdefinition(pid"),
      s"rank window lost its partition key:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets should broadcast, not shuffle the corpus:\n${plan.take(2000)}")
  }

  test("edit pairs: one posting-list shuffle, no per-pair set algebra") {
    val df = graft.ext.Dedup.xEditPairs(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("array_intersect"), opt.take(2000))
    // r10 shape: the gram pipeline expands ONCE into the posting-list
    // aggregate (sort_array(collect_list(...))); candidate pairs are
    // generated in-bucket from the sorted array, so there is exactly one
    // Generate over the gram transform — the r9 dual-branch self-join
    // re-expanded it per side
    // the second Generate in the plan is the in-bucket pair expansion over
    // `ids` — only the gram transform itself must not be re-expanded
    assert("explode\\(array_distinct\\(transform\\(sequence".r
      .findAllIn(opt).length == 1,
      s"gram pipeline must expand exactly once:\n${opt.take(2000)}")
    assert(opt.contains("sort_array(collect_list("),
      s"posting-list aggregate missing:\n${opt.take(2000)}")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("a4 heat map: generate fuses with partial count in one codegen span") {
    // the property SURVEY §4's anticipated rule (b) would buy — map-side
    // partial counts — is ALREADY the stock plan: the explode and the
    // partial aggregation share a single whole-stage-codegen span, so
    // occurrence rows never materialize between them. This contract is why
    // RewriteExplodeCountToHistogram defaults OFF (it only pays on
    // heavy-repetition arrays, where it shrinks the generate fan-out).
    val plan = planOf(Assessments.a4TokenHeatmap(spark, dir))
    val agg = "\\*\\((\\d+)\\) HashAggregate\\(keys=\\[token[^\\]]*\\], functions=\\[partial_count"
      .r.findFirstMatchIn(plan)
    val gen = "\\*\\((\\d+)\\) Generate explode".r.findFirstMatchIn(plan)
    assert(agg.isDefined && gen.isDefined,
      s"expected codegen'd partial_count over Generate:\n${plan.take(2000)}")
    assert(agg.get.group(1) == gen.get.group(1),
      s"explode and partial count in different codegen spans:\n${plan.take(2000)}")
  }

  test("skew report + inverted index: head is TakeOrdered, dims broadcast") {
    val sk = planOf(graft.ext.Changelog.xSkewReport(spark, dir))
    assert(sk.contains("TakeOrderedAndProject"),
      s"top keys must be per-partition top-k:\n${sk.take(2000)}")
    val inv = planOf(graft.ext.Curation.xInvertedIndex(spark, dir))
    assert(inv.contains("TakeOrderedAndProject"),
      s"rare-term selection must be TakeOrdered:\n${inv.take(2000)}")
    assert(inv.contains("BroadcastHashJoin"),
      s"the k-row term dim must broadcast:\n${inv.take(2000)}")
  }

  test("r9 operators: banded snm join, narrow dialect scan, day-partitioned sweep, bounded gradient exchange") {
    // SNM self-join must be the (block, bucket) equi-join — a nested-loop
    // or cartesian fallback would mean the banding keys got lost
    val snm = planOf(graft.ext.Dedup.xSnmPairs(spark, dir))
    assert(!snm.contains("CartesianProduct") &&
      !snm.contains("BroadcastNestedLoopJoin"), snm.take(2000))
    // dialect scan: instr feature flags stay native (no UDF), aggregate
    // partials combine map-side
    val scan = planOf(Migration.aDialectScan(spark, dir))
    assert(!scan.toLowerCase.contains("udf("), scan.take(2000))
    assert(scan.contains("partial_"), scan.take(2000))
    // concurrency sweep: the running-sum window partitions by day, never
    // a global single-partition sort
    val conc = planOf(Migration.aConcurrencyProfile(spark, dir))
    assert(conc.contains(", [day#"),
      s"sweep window must partition by day:\n${conc.take(2000)}")
    // logreg: gradient reduces through a partial aggregate after the
    // posexplode, so the exchange is dims-bounded, not corpus-bounded
    val lr = planOf(graft.ext.Learn.xLogregStep(spark, dir))
    assert(lr.contains("Generate") && lr.contains("partial_"), lr.take(2000))
  }

  test("r9 additions: audit single-pass, broadcast hierarchy, bounded windows") {
    // dq audit: each table's constraint block is ONE aggregate (partial +
    // final), no per-check jobs; RI is the only join
    val dq = planOf(Audit.aDqAudit(spark, dir))
    assert(dq.contains("partial_"), dq.take(2000))
    assert(!dq.contains("CartesianProduct"), dq.take(2000))
    // k-anonymity: the nation hierarchy joins as a broadcast dim
    val ka = planOf(Audit.xKAnonymity(spark, dir))
    assert(ka.contains("BroadcastHashJoin"), ka.take(2000))
    // paragraph dedup: the first-occurrence window hashes on the chunk
    // md5, never a single partition
    val pd = planOf(graft.ext.Curation.xParagraphDedup(spark, dir))
    assert(pd.contains("Window") && !pd.contains("Exchange SinglePartition"),
      pd.take(2000))
    // compaction: packing window partitions by the date partition
    val cp = planOf(graft.ext.Layout.xCompactionPlan(spark, dir))
    assert(cp.contains(", [part#"),
      s"packing window must partition by part:\n${cp.take(2000)}")
    // heavy hitters: the sketch aggregates through ObjectHashAggregate
    // with a partial stage (map-side sketch merge, k-bounded buffers)
    val hh = planOf(graft.ext.SqlSurface.xHeavyHitters(spark, dir))
    assert(hh.contains("ObjectHashAggregate"), hh.take(2000))
    assert(hh.contains("partial_freq_sketch"),
      s"sketch must partial-aggregate map-side:\n${hh.take(2000)}")
    // recurring jobs + retry chains: every window partitions on its
    // analysis key (user/kind), no global funnel
    Seq(planOf(Migration.aRecurringJobs(spark, dir)),
      planOf(Assessments.a11RetryChains(spark, dir))).foreach { p =>
      assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    }
  }

  test("late-r9 additions: partial aggregates, no cartesian, bounded windows") {
    // seasonal + drift + forecast: map-side partials, no cartesian blowup
    // (the forecast's one-row stats frames join via broadcast-able
    // crossJoin, which Spark plans as BroadcastNestedLoop — allowed)
    Seq(planOf(Assessments.a15SeasonalDow(spark, dir)),
      planOf(graft.ext.Similarity.xEmbeddingDrift(spark, dir)),
      planOf(Migration.aCapacityForecast(spark, dir))).foreach { p =>
      assert(p.contains("partial_"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
    // threshold curve / wave schedule: the global cumulative window is fed
    // by a HashAggregate — the exchange moves bins/waves, never raw pairs
    // or events
    Seq(planOf(graft.ext.Dedup.xDedupThresholdCurve(spark, dir)),
      planOf(Migration.aWaveSchedule(spark, dir))).foreach { p =>
      val idxAgg = p.indexOf("HashAggregate")
      val idxWin = p.indexOf("Window")
      assert(idxAgg >= 0 && idxWin >= 0, p.take(2000))
      // plan strings print top-down: the window must sit ABOVE (before)
      // an aggregate that reduced the stream
      assert(idxWin < p.lastIndexOf("HashAggregate"),
        s"window not fed by an aggregate:\n${p.take(2000)}")
    }
  }

  test("every oracle-checked query stays under 200 shuffles budget sanity") {
    // cheap guard against accidental quadratic plans sneaking in.
    // Cache-free plans: a cached relation left by an earlier suite prints
    // its child plan (joins included) once PER REFERENCE, inflating the
    // string count for queries that share frames (r13: the jaccard/LSH
    // persists made this order-dependent in the full run).
    spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.optimizedPlan.toString
      val joins = "Join".r.findAllIn(plan).length
      assert(joins <= 12, s"$name has suspicious join count $joins")
    }
  }
}
