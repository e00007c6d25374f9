package graft.ext

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a training-data pipeline (SURVEY.md §2.3
  * extensions): near-dup cluster assignment (the step that turns pair lists
  * into a deduplicated corpus), deterministic hash sampling, stratified
  * per-class quotas, and TF-IDF salient terms.
  *
  * All hashing is md5-substring based so the DuckDB oracle reproduces every
  * decision byte-for-byte (sampling membership included).
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  /** Connected components over the near-dup pair graph by iterative
    * min-label propagation: every doc starts as its own cluster; each round
    * joins labels across edges (both directions) and keeps the minimum;
    * stops when no label changes. Converges in O(diameter) rounds — near-dup
    * graphs are unions of small quasi-cliques, so diameter is tiny; each
    * round is one equi-join + one aggregate, and the edge list (O(pairs), not
    * O(corpus)) is localCheckpointed once so iterations don't replay the
    * whole LSH pipeline. At cluster scale swap localCheckpoint for a
    * checkpoint dir; the loop shape (join + min-agg per round, early-exit on
    * fixpoint) is the standard large-graph CC formulation.
    *
    * Cluster id = min doc_id of the component — deterministic, and exactly
    * what a keep-one-per-cluster dedup wants as the keeper key.
    */
  def xDupClusters(s: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minhashPairsUnordered(s, dir)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // freeze the edge list; iterations reuse it
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
    var labels = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    val maxRounds = 50
    while (changed > 0 && rounds < maxRounds) {
      // One job per round: the self row carries its previous label through
      // the aggregate (`old` is non-null exactly once per doc), so
      // convergence detection is a filter over the checkpointed result —
      // not the extra join+count job per round it used to be (the r3
      // regression: ~2 jobs/round on a tiny frame is pure overhead).
      val next = labels
        .select(col("doc_id"), col("cluster"), col("cluster").as("old"))
        .unionByName(edges // neighbor's current label, flowing both ways
          .join(labels, edges("doc_b") === labels("doc_id"))
          .select(edges("doc_a").as("doc_id"), col("cluster"),
            lit(null).cast("long").as("old")))
        .groupBy("doc_id")
        .agg(min("cluster").as("cluster"), max("old").as("old"))
        .localCheckpoint()
      changed = next.filter(col("cluster") =!= col("old")).count()
      labels = next.select("doc_id", "cluster")
      rounds += 1
    }
    // Fail loudly rather than silently emit partial (wrong) cluster labels:
    // a component whose diameter exceeds the round cap is truncated, and at
    // corpus scale chained near-dup clusters (A~B~C~...) can be that deep.
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"($changed labels still changing); raise the cap or pre-contract " +
          "the graph")
    labels.orderBy("doc_id")
  }

  /** Duplicate-cluster size histogram — the one-screen summary of a dedup
    * run: how many clusters of each size exist and how many documents they
    * hold, with unclustered documents reported as size-1 clusters so the
    * histogram partitions the whole corpus. The (size-2 mass vs long-tail)
    * shape is what decides between keep-one-per-cluster and
    * threshold-retuning.
    *
    * Scale shape: everything downstream of the cluster labels is
    * cluster-count-sized; the corpus appears only in the one-row total. */
  def xClusterHistogram(s: SparkSession, dir: String): DataFrame = {
    val sizes = xDupClusters(s, dir)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val total = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).as("n_total"))
    val clustered = sizes.agg(coalesce(sum("cluster_size"), lit(0L))
      .as("n_clustered"))
    val singles = total.crossJoin(broadcast(clustered)) // two one-row frames
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    hist.unionByName(singles).orderBy("cluster_size")
  }

  /** Near-dup × quality cross-tab — the diagnostic that decides what a
    * dedup pass actually removes: if near-duplicated documents score like
    * the uniques, dedup is pure win; if they skew high-quality, aggressive
    * cluster collapsing is deleting good data and the keeper policy
    * matters. Joins [[TextOps.xQualityScore]]'s soft score against
    * [[xDupClusters]] membership, two summary rows.
    *
    * Scale shape: the score is a narrow map riding the scan; membership is
    * the (cluster-member-sized) label frame; one 2-group aggregate. */
  def xDupQuality(s: SparkSession, dir: String): DataFrame = {
    val scores = TextOps.xQualityScore(s, dir).select("doc_id", "score")
    val members = xDupClusters(s, dir)
      .select(col("doc_id"), lit("near_dup").as("st"))
    scores.join(members, Seq("doc_id"), "left")
      .select(col("score"), coalesce(col("st"), lit("unique")).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("score") + lit(1e-9), 4).as("avg_score"),
        min("score").as("min_score"), // score pre-rounded to 4 dp
        max("score").as("max_score"))
      .orderBy("status")
  }

  /** Quality-score calibration curve: decile the corpus by soft quality
    * score and report each decile's near-dup rate — the check that tells
    * whether the quality classifier and the dedup pass agree on what "bad"
    * is (dup-heavy low deciles = the score is finding boilerplate; a flat
    * curve = the two filters are independent evidence).
    *
    * Scale shape: decile boundaries come from ONE exact-percentile
    * aggregate (a one-row broadcast frame — never an ntile window, which
    * would funnel the corpus through a single-partition global sort);
    * bucket assignment is a narrow map against the broadcast bounds;
    * membership is an equi-join against the cluster labels; one 10-group
    * aggregate ends it. */
  def xQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val scores = TextOps.xQualityScore(s, dir).select("doc_id", "score")
    val bounds = scores.agg(expr(
      "percentile(score, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, " +
        "0.8D, 0.9D))").as("bs"))
    val members = xDupClusters(s, dir).select(col("doc_id"), lit(1).as("dup"))
    scores.crossJoin(broadcast(bounds)) // one-row boundary frame
      .select(col("doc_id"), col("score"),
        (lit(1) + aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col("score") > b, 1).otherwise(0)))
          .cast("int").as("decile"))
      .join(members, Seq("doc_id"), "left")
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("dup"), lit(0L)).as("n_dup"),
        round(avg("score") + lit(1e-9), 6).as("avg_score"),
        round(coalesce(sum("dup"), lit(0L)) /
          count(lit(1)).cast("double") + lit(1e-9), 6).as("dup_rate"))
      .orderBy("decile")
  }

  /** PageRank over the near-dup graph (3 fixed power iterations, d=0.85):
    * ranks cluster members by how centrally duplicated they are — a hub
    * that near-matches many variants outranks a leaf that matches one,
    * which is a better keep-the-canonical signal than min-doc_id when
    * clusters are chains of partial overlaps. Fixed iteration count keeps
    * the result deterministic and oracle-checkable (the unrolled twin runs
    * the same three steps).
    *
    * Scale shape: the textbook distributed PageRank — the edge list is
    * frozen once (localCheckpoint; a checkpoint dir at cluster scale) and
    * each iteration is ONE equi-join of ranks onto edges plus ONE
    * map-side-combinable sum, both partitioned on the node key; the node
    * count rides a one-row broadcast. No collect, no per-iteration LSH
    * replay, state is O(nodes). */
  def xDupPagerank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val pairs = Dedup.minhashPairsUnordered(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .localCheckpoint() // frozen; every iteration re-reads it
    val nodes = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nN = nodes.agg(count(lit(1)).cast("double").as("n"))
    var pr = nodes.crossJoin(broadcast(nN))
      .select(col("doc_id"), col("deg"), (lit(1.0) / col("n")).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(pr, edges("doc_a") === pr("doc_id"))
        .select(edges("doc_b").as("doc_id"),
          (col("pr") / col("deg")).as("c"))
        .groupBy("doc_id").agg(sum("c").as("inflow"))
      pr = nodes.join(inflow, Seq("doc_id"), "left")
        .crossJoin(broadcast(nN))
        .select(col("doc_id"), col("deg"),
          (lit(0.15) / col("n") +
            lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("pr"))
        .localCheckpoint()
    }
    pr.select(col("doc_id"), col("deg"),
      round(col("pr") + lit(1e-9), 6).as("pagerank"))
      .orderBy("doc_id")
  }

  /** Deterministic 25% corpus sample: keep a doc iff the first hex char of
    * md5(doc_id) sorts at or below '3' (4 of 16 nibbles). Membership is a
    * pure function of the id — reproducible across runs, engines, and
    * re-partitions, which is what makes train/eval splits auditable. Pure
    * narrow filter; no shuffle at any scale. */
  def xSampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) <= "3")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Stratified per-class quota: the md5-least 20 documents of every
    * language — class-balanced subsampling with a deterministic,
    * engine-reproducible order. One shuffle on the (small-cardinality)
    * class key; the per-class window never sees more than one class's
    * rows per partition. */
  def xSampleStratified(s: SparkSession, dir: String,
                        perClass: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perClass)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  /** Language-mixture resampling — the corpus-mixing step of an LLM data
    * pipeline: each language keeps a different deterministic fraction
    * (upsample low-resource, downsample dominant). Membership = md5(doc_id)
    * 4-hex-char prefix compared against the language's threshold string, so
    * the draw is reproducible across engines and re-partitions and the
    * filter is a pure narrow map — no shuffle, any scale. */
  def xSampleMixture(s: SparkSession, dir: String): DataFrame = {
    // fraction ≈ threshold/65536: zh 1/8, en 1/4, fr 1/2, de 3/4, es all
    val thresholds = typedLit(Map(
      "zh" -> "2000", "en" -> "4000", "fr" -> "8000",
      "de" -> "c000", "es" -> "ffff"))
    Tables.load(s, dir, "documents")
      // try_element_at: an unmapped language falls to the coalesce default
      // (plain element_at throws under ANSI for a missing map key)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4)
        < coalesce(try_element_at(thresholds, col("lang")), lit("0000")))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis exponential-key reservoir, the standard distributed-weighted-
    * sample construction): doc i gets key -ln(u_i)/w_i with u_i a uniform in
    * (0,1] derived from md5(doc_id) and weight w_i = n_chars; the k smallest
    * keys ARE a weighted sample without replacement. The hash-derived u
    * makes the draw reproducible across engines/runs/partitions (same trick
    * as [[xSampleHash]]); physically this is a narrow map + TakeOrdered —
    * a per-partition top-k then a k-row merge on the driver, never a full
    * sort, at any corpus size. */
  def xSampleWeighted(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // first 8 md5 hex chars as an integer in [0, 2^32) -> u in (0, 1]
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    val key = -log(u) / col("n_chars")
    Tables.load(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(key * 1e6 + lit(1e-9), 4).as("skey_ppm"), key.as("k0"))
      .orderBy(col("k0"), col("doc_id"))
      .limit(k)
      .drop("k0")
  }

  /** Deterministic training-shard manifest: every doc hashes to one of
    * `shards` output shards (md5 draw — stable across engines, runs, and
    * repartitions), and each shard reports doc/token counts plus a content
    * checksum. The checksum is the XOR of member content fingerprints
    * (md5 split into four 32-bit words, bit_xor-aggregated, reassembled as
    * 32 hex chars): order-independent and MERGEABLE, so it partial-
    * aggregates map-side and never funnels a shard's fingerprints through
    * one reducer the way a sorted string_agg would — the property that
    * makes per-shard checksums feasible at 100 TB. Byte-identical rebuild
    * of a shard ⇒ identical checksum; any dropped/added/changed doc flips
    * it. */
  def xShardManifest(s: SparkSession, dir: String,
                     shards: Int = 8): DataFrame = {
    val fp = md5(col("text"))
    val shard = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long"), lit(shards))
    val aggs = count(lit(1)).as("n_docs") +:
      sum("n_tok").as("n_tokens") +:
      (0 until 4).map { i =>
        bit_xor(conv(substring(col("fp"), 1 + 8 * i, 8), 16, 10)
          .cast("long")).as(s"w$i")
      }
    Tables.load(s, dir, "documents")
      .select(shard.as("shard"), fp.as("fp"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      .groupBy("shard")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        concat((0 until 4).map(i =>
          format_string("%08x", col(s"w$i"))): _*).as("checksum"))
      .orderBy("shard")
  }

  /** Per-document n-gram novelty — the marginal-utility curve of an
    * ingestion order: a shingle's FIRST document (min doc_id) owns it; each
    * doc reports the fraction of its distinct shingles it introduced.
    * Streaming-ingest teams read this as "how much genuinely new content
    * does each increment add" and cut feeds whose curve collapses.
    *
    * Same two-aggregate shape as [[xBoilerplate]]: one shared shingle
    * stream (checkpointed — the same spill-vs-recompute tradeoff), a
    * first-seen groupBy that partial-aggregates map-side (min collapses hot
    * shingles before the shuffle), and an equi-join back on the shingle key
    * that AQE can skew-split. Nothing is ever collected or broadcast at
    * corpus scale. */
  def xNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Grams.shingleRows(Tables.load(s, dir, "documents"))
      .localCheckpoint()
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        round(col("n_novel") / col("n_sh") + lit(1e-9), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Token-budget source rebalancing — the data-mixing step that turns raw
    * feed proportions into target training proportions: every source gets an
    * equal slice of a global token budget (here half the corpus), a
    * deterministic per-source keep-rate = min(1, slice / actual_tokens)
    * downsamples the overweight feeds (underweight feeds keep everything),
    * and membership is the md5(doc_id) uniform draw — reproducible across
    * engines, runs, and repartitions, like every sampler here.
    *
    * Two tiny aggregates (per-source, then one global row broadcast back)
    * plus ONE corpus pass with a narrow hash filter — rates never leave the
    * driver-side-sized dimension, the corpus is never shuffled. */
  /** DSIR importance-weighted data selection (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by the mean log-likelihood ratio of its tokens under a
    * hashed-unigram model of a TARGET domain (here the `en` slice) versus
    * the RAW pool, then keep the top-k — the standard cheap way to tilt a
    * web-scale corpus toward a domain without training a classifier.
    * Tokens hash into 256 buckets (first 4 md5 hex chars, exact 16-bit
    * arithmetic on both engines); both distributions are add-one smoothed.
    *
    * Scale shape: the two distributions are 256-row aggregates over the
    * token stream (map-side combinable) and ride a broadcast join back onto
    * the stream; totals are one-row broadcast aggregates inside the plan
    * (never a driver-side count); per-doc scoring is one aggregate; the
    * final top-k is TakeOrdered. Nothing here grows with corpus size except
    * the token-stream passes. */
  def xDsirSelect(s: SparkSession, dir: String,
                  buckets: Int = 256, k: Int = 50): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long")
          % buckets)
    val raw = toks.groupBy("b").agg(count(lit(1)).as("n_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
    val tot = toks.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
        .as("nt_total"),
      count(lit(1)).cast("double").as("nr_total"))
    val dist = raw.crossJoin(broadcast(tot))
      .select(col("b"),
        log(((col("n_t") + 1.0) / (col("nt_total") + buckets)) /
            ((col("n_r") + 1.0) / (col("nr_total") + buckets))).as("llr"))
    toks.join(broadcast(dist), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), avg(col("llr")).as("m"))
      .select(col("doc_id"), col("n_tokens"),
        // + 0.0 collapses IEEE -0.0 to 0.0 (engines disagree on the sign
        // of a rounded-away negative otherwise)
        (round(col("m") + lit(1e-9), 4) + lit(0.0)).as("dsir_logratio"))
      .orderBy(col("dsir_logratio").desc, col("doc_id"))
      .limit(k)
  }

  def xSourceBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      .localCheckpoint() // feeds the rate build AND the kept aggregate
    val bySrc = docs.groupBy("source")
      .agg(sum("n_tok").as("tokens_total"), count(lit(1)).as("n_docs"))
    val g = bySrc.agg(sum("tokens_total").cast("double").as("total"),
      count(lit(1)).cast("double").as("n_src"))
    val rates = bySrc.crossJoin(broadcast(g)) // one-row broadcast idiom
      .select(col("source"), col("tokens_total"), col("n_docs"),
        least(lit(1.0),
          col("total") * 0.5 / col("n_src") / col("tokens_total"))
          .as("rate"))
    // md5 first 8 hex chars as an integer in [0, 2^32) -> u in [0, 1)
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val kept = docs.join(broadcast(rates.select("source", "rate")), "source")
      .filter(u < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("tokens_kept"))
    rates.join(kept, Seq("source"), "left") // a fully-sampled-out source → 0
      .select(col("source"), col("n_docs"), col("tokens_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        round(col("rate") * 1e6 + lit(1e-9), 4).as("rate_ppm"))
      .orderBy("source")
  }

  /** Source-level overlap matrix: directed shingle containment
    * `|S_a ∩ S_b| / |S_a|` for every ordered source pair — the corpus-
    * provenance question ("how much of source A is already in source B?")
    * that decides which feeds to drop before doc-level dedup ever runs.
    *
    * Shape for 100 TB: ONE corpus pass builds distinct (source, shingle)
    * rows; the per-shingle source set is a groupBy collect_set BOUNDED by
    * the source count (map-side combine collapses hot shingles — the exact
    * reason this is not a shingle self-join, which would explode every
    * corpus-wide shingle into |srcs|² rows in the shuffle); pair counts then
    * come from exploding those tiny sets. The materialized frame feeds both
    * the sizes and the overlap aggregate (the xBoilerplate tradeoff:
    * shingle-level checkpoint vs recompute — spill to a checkpoint dir at
    * cluster scale). */
  def xCorpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val ss = Grams.shingleRows(Tables.load(s, dir, "documents"), "source")
      .distinct()
      .localCheckpoint()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_a"))
    val shared = ss.groupBy("shingle")
      .agg(collect_set(col("source")).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.withColumnRenamed("source", "source_a"), "source_a")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_a"), 4)
          .as("containment"))
      .orderBy("source_a", "source_b")
  }

  /** Corpus length distribution: documents bucketed by token count (width
    * 50) — the introspection histogram every curation run reports. One
    * narrow map + one tiny aggregate. */
  def xLengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select((floor(size(split(col("text"), " ")) / 50) * 50)
        .cast("bigint").as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_lo")

  /** Overlapping-window document chunking — the layout step ahead of an
    * embedding/retrieval pipeline: each doc is sliced into `chunk`-token
    * windows every `stride` tokens (overlap = chunk - stride preserves
    * context across boundaries; production sizes are ~512/448, the small
    * defaults keep multi-chunk docs present at test scale). Pure per-doc
    * HOF + posexplode — a narrow map over the corpus scan, no shuffle but
    * the presentation sort; chunk identity is the md5 of the chunk text so
    * downstream exact-dedup can run at chunk granularity. */
  def xChunkDocuments(s: SparkSession, dir: String,
                      chunk: Int = 32, stride: Int = 24): DataFrame = {
    val starts = sequence(lit(0),
      floor((size(col("toks")) - 1) / stride).cast("int"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
        posexplode(transform(starts,
          k => concat_ws(" ", slice(col("toks"), k * stride + 1, lit(chunk))))))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("bigint").as("chunk_id"),
        least(lit(chunk), col("n_tokens") - col("pos") * stride)
          .cast("bigint").as("chunk_tokens"),
        md5(col("col")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Paragraph-granularity exact dedup (the RefinedWeb/Gopher-style
    * sub-document pass): cut every document into non-overlapping 8-token
    * chunks, keep only the corpus-wide FIRST occurrence of each distinct
    * chunk (ordered by (doc_id, chunk_idx) — deterministic canonical), and
    * report per document how much survives. Boilerplate that exact
    * whole-doc dedup can't touch — shared headers, repeated spans — is
    * what this removes at 100 TB.
    *
    * Scale shape: one explode to chunk rows, first-occurrence via a
    * row_number window partitioned by the chunk's md5 (16-byte shuffle
    * key, the chunk text itself never widens the exchange beyond its own
    * row), then one per-doc aggregate. No self-join, no collect; output is
    * doc-bounded. */
  def xParagraphDedup(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / n).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i * n + 1, lit(n))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
    val w = Window.partitionBy(md5(col("chunk")))
      .orderBy("doc_id", "chunk_idx")
    val kept = when(row_number().over(w) === 1, 1L).otherwise(0L)
    chunks.withColumn("k", kept)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("k").as("n_kept"),
        (sum(when(col("k") === 1, length(col("chunk")).cast("long"))
          .otherwise(0L)) + greatest(sum("k") - 1, lit(0L))).as("chars_after"))
      .withColumn("keep_ratio",
        round(col("n_kept") / col("n_chunks") + lit(1e-9), 4))
      .orderBy("doc_id")
  }

  /** Sequence packing for training: concatenation-pack documents into
    * fixed token-budget rows (the layout step between curation and the
    * trainer — docs are concatenated in a deterministic order and sliced
    * every `budget` tokens, so a doc whose start offset lands in window k
    * belongs to packed sequence k). Layout is per input shard — here
    * (lang, floor(doc_id/1000)), the stable shard key a real pipeline
    * carries from its file layout — so the running-offset window is
    * BOUNDED: at 100 TB each shard packs independently as a narrow
    * window over its own partition, no global sort, no driver state.
    * Emits one row per packed sequence with its doc span and fill. */
  def xPackSequences(s: SparkSession, dir: String,
                     budget: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = floor(col("doc_id") / 1000).cast("bigint")
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), shard.as("shard"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      .withColumn("start", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("seq_id", floor(col("start") / budget).cast("bigint"))
      .groupBy("lang", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("lang", "shard", "seq_id")
  }

  /** TF-IDF top-3 salient terms per document: tf = in-doc term frequency,
    * idf = ln(N / df) from a corpus-wide document-frequency aggregate,
    * ranked per doc. Two aggregates (per-doc term counts; per-term doc
    * counts) + one shuffle join on the term key + a per-doc window — each
    * stage partial-aggregates map-side, and nothing is ever collected or
    * broadcast (vocabulary can be arbitrarily large). */
  def xTfidfTop(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    // corpus size as a one-row broadcast aggregate INSIDE the plan — not a
    // driver-side .count(), which would run a whole extra job eagerly at
    // plan-construction time (same shape as xEmbedQuantize's stats row)
    val nDocs = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n_docs_total"))
    val df = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // rank on the UNROUNDED score (the oracle does the same): rounding can
    // collapse distinct scores and scramble the tiebreak
    val raw = col("tf") * log(col("n_docs_total") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("raw").desc, col("tok").asc)
    tf.join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("raw", raw)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"),
        round(col("raw"), 4).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** Shingle rows of the eval docs (0–9) and of the rest of the corpus,
    * each side filtered at the scan, before shingling. */
  private def evalSplit(s: SparkSession,
                        dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.load(s, dir, "documents")
    (Grams.shingleRows(docs.filter(col("doc_id") < 10)),
      Grams.shingleRows(docs.filter(col("doc_id") >= 10)))
  }

  /** Benchmark-decontamination check: count, per corpus document, the
    * 3-gram shingles it shares with an "eval set" (here: docs 0–9 stand in
    * for the benchmark). The eval shingle set is bounded (benchmarks are
    * small), so it broadcasts and the corpus makes ONE pass with a
    * map-side hash probe — no shuffle of corpus text at any scale. Only
    * contaminated docs surface. */
  def xDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val (evalSh, corpusSh) = evalSplit(s, dir)
    val evalSet = evalSh.select(col("shingle")).distinct()
    corpusSh
      .join(broadcast(evalSet), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** The transpose of [[xDecontaminate]] — contamination from the EVAL
    * side: for each held-out item, how many corpus documents hit it and how
    * many shingle occurrences they share. This is the report an eval owner
    * reads to decide which benchmark items are compromised (a corpus doc
    * report can't answer that without re-aggregation). Same scale shape as
    * the forward direction: the eval shingle set broadcasts, the corpus
    * makes one pass, and the aggregate keys on the TINY side (eval ids), so
    * the shuffle after the probe is eval-sized, not corpus-sized. */
  def xContaminationReport(s: SparkSession, dir: String): DataFrame = {
    val (evalRows, corpusSh) = evalSplit(s, dir)
    val evalSh = evalRows.select(col("doc_id").as("eval_id"), col("shingle"))
    corpusSh
      .join(broadcast(evalSh), "shingle")
      .groupBy("eval_id")
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
        count(lit(1)).as("n_shared"))
      .orderBy("eval_id")
  }

  /** Bloom-prefiltered decontamination — the shape the eval-overlap probe
    * takes at 100 TB. [[xDecontaminate]]'s broadcast hash join already avoids
    * shuffling the corpus, but every corpus shingle still probes the full
    * broadcast hash relation. Here a Bloom filter built over the eval-set
    * shingles (a driver-side aggregate of the SMALL side only, then an
    * executor broadcast) rejects ~all clean shingles first with a few hash
    * probes and no join machinery; only the survivors — overlap hits plus
    * the fpp tail — enter the exact confirm join that removes false
    * positives. Output is therefore byte-identical to [[xDecontaminate]]
    * (they share an oracle); the bloom stage is pure bandwidth savings. The
    * probe is a Scala UDF rather than a codegen Expression because the
    * sketch probe is opaque library code either way; it sits behind the
    * scan filter, not in a hot arithmetic path. */
  private val bloomCache = scala.collection.mutable.Map.empty[
    String, org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter]]

  def xDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val (evalSh, corpusSh) = evalSplit(s, dir)
    val evalSet = evalSh.select(col("shingle")).distinct()
    // expectedNumItems sized to the eval set (always enumerable: it's the
    // held-out benchmark suite), fpp 0.1% keeps the confirm join's input
    // within 1.001x of the true overlap.
    // One broadcast per (app, dir), reused across invocations: the returned
    // DataFrame holds the broadcast for its lifetime, so destroying it here
    // is impossible — but without the cache every bench/verify rerun in a
    // long-lived session leaked a fresh bitset into the block manager.
    val bloomRef = bloomCache.synchronized {
      bloomCache.getOrElseUpdate(s"${s.sparkContext.applicationId}#$dir", {
        val bloom = evalSet.stat.bloomFilter("shingle", 100000L, 0.001)
        s.sparkContext.broadcast(bloom)
      })
    }
    val mightOverlap =
      udf((x: String) => x != null && bloomRef.value.mightContain(x))
    corpusSh
      .filter(mightOverlap(col("shingle")))
      .join(broadcast(evalSet), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Boilerplate detection (the C4-style repeated-content filter): a shingle
    * is boilerplate when it appears in >= 5 distinct documents; each doc
    * reports its boilerplate ratio. Two aggregates over the exploded shingle
    * stream — the document-frequency side partial-aggregates map-side and
    * joins back on the shingle key (vocabulary-sized, never collected).
    *
    * Deliberately NOT a window over the shingle partition: a window cannot
    * partial-aggregate, so every row of a partition lands on one task — and
    * the hottest shingle is by definition the boilerplate one (millions of
    * docs at corpus scale). The groupBy collapses the hot key map-side, and
    * the join back is a plain equi-join AQE can skew-split. */
  def xBoilerplate(s: SparkSession, dir: String,
                   minDocs: Long = 5L): DataFrame = {
    // One shingle pass feeds both the document-frequency aggregate and the
    // probe side of the join. Measured both ways at sf0.1 (r4): checkpoint
    // 5.2 s, recompute 13.3 s — re-running the explode+array_distinct per
    // consumer dominates, so the materialization stays. At 100 TB the
    // checkpoint is ~3x corpus size: spill it to a checkpoint dir (HDFS/
    // object store), or accept the recompute if storage is the binding
    // constraint — the crossover is cluster-specific, re-measure there.
    val sh = Grams.shingleRows(Tables.load(s, dir, "documents"))
      .localCheckpoint()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("docs_with"))
    sh.join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("docs_with") >= minDocs, 1L).otherwise(0L))
          .as("n_boiler"))
      .select(col("doc_id"), col("n_sh"), col("n_boiler"),
        round(col("n_boiler") / col("n_sh") + lit(1e-9), 4)
          .as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** The capstone composition — what this library exists to produce: the
    * curated training corpus. Keep a document iff it is (a) its exact-dup
    * group's keeper (min doc id per content hash), (b) in the target
    * language, (c) above the token-count quality floor, (d) free of
    * eval-set contamination, and (e) below the boilerplate-ratio ceiling.
    *
    * Exactly TWO passes over the corpus text:
    *  1. the keeper aggregate — min(struct(doc_id, lang, n_tokens)) per
    *     content hash carries the kept row's whole projection through the
    *     groupBy (16-byte-key shuffle, map-side combined), fusing what used
    *     to be separate keeper and quality/lang scans;
    *  2. the shingle stream — materialized once (localCheckpoint; a
    *     checkpoint dir at cluster scale) and reused by all four shingle
    *     consumers: eval-set build, contamination probe, document
    *     frequency, and the boilerplate ratio.
    * Everything downstream is vocabulary-sized or doc-id-sized; the corpus
    * text itself is never shuffled. */
  def xCurateCorpus(s: SparkSession, dir: String,
                    lang: String = "en", minTokens: Int = 20,
                    minDocs: Long = 5L,
                    maxBoilerRatio: Double = 0.3): DataFrame = {
    val keepers = Tables.load(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(struct(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.n_tokens").as("n_tokens"))
    // corpus size: a count-star scan reads NO column data (parquet row-group
    // metadata only) — the one-row result broadcasts into the ratio filter
    val nDocs = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    // Measured r4 at sf0.1: checkpoint 4.4 s, recompute 12.6 s across the
    // four shingle consumers — see xBoilerplate for the 100 TB disposition.
    val sh = Grams.shingleRows(Tables.load(s, dir, "documents"))
      .localCheckpoint()
    val evalSet = sh.filter(col("doc_id") < 10)
      .select(col("shingle")).distinct()
    val contaminated = sh.filter(col("doc_id") >= 10)
      .join(broadcast(evalSet), "shingle")
      .select("doc_id").distinct()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("docs_with"))
    // Boilerplate = shingle in >= max(minDocs, 1% of corpus) documents. The
    // RELATIVE threshold is the point: an absolute count saturates as the
    // corpus grows (every common trigram clears 5 docs at web scale) and
    // would flag the whole corpus; df >= 1% pins the C4-style "repeated
    // content" meaning at any scale. Docs over the ratio ceiling are
    // anti-joined away; docs too short to shingle never enter `sh` and are
    // rightly kept by the anti-join.
    val dfFloor = greatest(lit(minDocs.toDouble),
      ceil(col("n_docs") / 100.0).cast("double"))
    val tooBoiler = sh.join(dfreq, "shingle")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg((sum(when(col("docs_with") >= dfFloor, 1L).otherwise(0L)) /
        count(lit(1))).as("ratio"))
      .filter(round(col("ratio") + lit(1e-9), 4) > maxBoilerRatio)
      .select("doc_id")
    keepers
      .filter(col("doc_id") >= 10) // docs 0-9 are the eval set, never kept
      .filter(col("lang") === lang && col("n_tokens") >= minTokens)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(tooBoiler, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Cluster label for EVERY document: near-dup components carry the
    * min-doc-id label from [[xDupClusters]]; docs in no pair are their own
    * singleton cluster. The label frame is O(docs-in-near-dup-pairs) — at
    * web scale a few percent of the corpus — so the back-join broadcasts
    * and the corpus itself never shuffles for labeling. */
  private def allDocLabels(s: SparkSession, dir: String): DataFrame = {
    val labels = xDupClusters(s, dir)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
  }

  /** Canonical-document selection — the "keep the best copy" half of
    * near-dup dedup: one row per cluster with its member count and the
    * keeper (longest member, ties to the smallest doc id). The keeper is
    * picked by a max-of-struct aggregate, not a window: partial aggregation
    * combines map-side, so no executor ever holds a whole cluster's rows —
    * the shape that survives a popular-boilerplate cluster with millions of
    * members. */
  def xCanonicalDocs(s: SparkSession, dir: String): DataFrame =
    allDocLabels(s, dir)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("cluster"), col("n_members"),
        (-col("best.neg_id")).as("keeper_doc"),
        col("best.n_tokens").as("keeper_tokens"))
      .orderBy("cluster")

  /** Leakage-safe train/val/test split: the split is a deterministic hash
    * of the CLUSTER label, not the document, so near-duplicates can never
    * straddle a split boundary (the classic eval-contamination bug of
    * per-doc random splits). First md5 nibble: 0-b train (12/16), c-d val
    * (2/16), e-f test. Membership is a pure function of the cluster id —
    * reproducible across engines, runs, and repartitions. */
  def xSplitLeakageSafe(s: SparkSession, dir: String): DataFrame =
    allDocLabels(s, dir)
      .withColumn("h", substring(md5(col("cluster").cast("string")), 1, 1))
      .withColumn("split",
        when(col("h") <= "b", "train")
          .when(col("h") <= "d", "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy("doc_id")

  /** Global vocabulary build: top-k tokens by corpus frequency with their
    * document frequency — the tokenizer-training / stopword-list view of
    * the corpus. Two-level aggregate (token×doc, then token) keeps both
    * counts map-side combinable; the final top-k is a TakeOrdered over the
    * vocabulary-sized frame, never a full sort. Ties break on the token so
    * the k-boundary is deterministic. */
  def xVocabTopk(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(sum("tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Inverted-index build for the most discriminative vocabulary slice —
    * the posting-list construction a distributed search index runs: the
    * `k` rarest terms by document frequency (the terms whose postings
    * actually narrow a search), each with its document postings AS ROWS.
    * Emitting postings as (token, df, doc_id) rows rather than a
    * concatenated list is the scale-honest representation: a posting list
    * is a distributed table slice, never a driver- or worker-held string —
    * the same reason [[xCorpusOverlap]] bounds its collect_set.
    *
    * Scale shape: the corpus reduces to DISTINCT (token, doc) postings
    * (two-phase distinct aggregation, materialized once for the df count
    * and the postings join); document frequency is a map-side-combinable
    * count; term selection is TakeOrdered (per-partition bottom-k, k-row
    * merge — never a vocabulary sort); and the k-row term dimension
    * broadcasts back onto the postings. */
  def xInvertedIndex(s: SparkSession, dir: String, k: Int = 32)
      : DataFrame = {
    val postings = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select("token", "doc_id").distinct()
      .localCheckpoint() // df count + the postings join both read it
    val rare = postings.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("token").asc)
      .limit(k)
    postings.join(broadcast(rare), "token")
      .select(col("token"), col("df"), col("doc_id"))
      .orderBy("token", "doc_id")
  }

  /** Triangle enumeration over the near-dup graph — the third classic
    * graph primitive beside components ([[xDupClusters]]) and centrality
    * ([[xDupPagerank]]): a triangle means three documents that pairwise
    * near-duplicate each other, the strongest clique evidence a
    * transitive-closure dedup can act on without manual review (A~B~C by
    * chaining can be drift; A~B~C with all three edges is a template).
    *
    * Degree-ordered node-iterator enumeration (the compact-forward /
    * "oriented wedge" algorithm): each undirected edge is oriented from its
    * lower (degree, id) endpoint to the higher, wedges are pairs of
    * out-edges of one source, and a final equi-join confirms the closing
    * oriented edge. Orienting by raw id alone keeps correctness but lets a
    * template-flood star (one doc near-duping thousands) put degree² wedges
    * in one partition; orienting by degree first caps every out-degree at
    * O(√m), so the wedge count is O(m^1.5) worst-case and the heaviest
    * wedge partition stays bounded on exactly the skewed dup-graphs
    * near-dup detection produces. Every triangle is found exactly once
    * (its three vertices have a unique (degree, id) order), then re-sorted
    * to ascending ids so the output contract — and the DuckDB oracle —
    * stay those of the naive enumeration. */
  def xTriangles(s: SparkSession, dir: String,
                 threshold: Double = 0.5): DataFrame = {
    val und = Dedup.minhashPairsUnordered(s, dir)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b")) // doc_a < doc_b by construction
    trianglesDegreeOriented(und)
  }

  /** Core of [[xTriangles]], reusable over any undirected (doc_a, doc_b)
    * edge list (each edge once, endpoints distinct). Kept separate so the
    * skew bound is testable on synthetic fixtures (CurationSpec pins both
    * the star-graph wedge bound and agreement with brute-force). */
  def trianglesDegreeOriented(und: DataFrame): DataFrame = {
    // Degrees: one grouped count over the exploded endpoint list; the
    // degree frame is |V| rows — joined (not broadcast: V scales with the
    // corpus) back onto the edge list on each endpoint.
    val deg = und
      .select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // two endpoint joins read it
    val keyed = und
      .join(deg.withColumnRenamed("v", "doc_a")
        .withColumnRenamed("deg", "deg_a"), "doc_a")
      .join(deg.withColumnRenamed("v", "doc_b")
        .withColumnRenamed("deg", "deg_b"), "doc_b")
    // Orient low (degree, id) -> high; carry the destination's rank key so
    // wedge endpoints can be ordered without re-joining degrees.
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("doc_a") < col("doc_b"))
    val oriented = keyed.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("ddeg"))
      .localCheckpoint() // wedge build + closing join both read it
    val dstLt = col("o1.ddeg") < col("o2.ddeg") ||
      (col("o1.ddeg") === col("o2.ddeg") && col("o1.dst") < col("o2.dst"))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.src") === col("o2.src") && dstLt)
      .select(col("o1.src").as("u"), col("o1.dst").as("v"),
        col("o2.dst").as("w"))
      .as("wg") // qualify: e3 re-exposes src/dst from the same edge list
    wedges
      .join(oriented.as("e3"),
        col("wg.v") === col("e3.src") && col("wg.w") === col("e3.dst"))
      // Re-sort each triangle's ids so output order matches the naive
      // a < b < c contract regardless of the degree orientation.
      .select(sort_array(array(col("wg.u"), col("wg.v"), col("wg.w")))
        .as("t"))
      .select(col("t").getItem(0).as("doc_a"),
        col("t").getItem(1).as("doc_b"), col("t").getItem(2).as("doc_c"))
      .orderBy("doc_a", "doc_b", "doc_c")
  }

  /** Zipf-law fit over the head of the vocabulary — the one-row corpus
    * diagnostic that flags synthetic or template-heavy text: natural corpora
    * fit ln(freq) ≈ a + s·ln(rank) with slope s near −1; a much flatter or
    * steeper slope means the token distribution is off (boilerplate floods,
    * truncated vocab, generator artifacts). Fit by least squares over the
    * top-256 tokens.
    *
    * Scale shape: the vocabulary aggregate partial-aggregates map-side, the
    * head selection is TakeOrdered (per-partition top-k + a k-row merge,
    * never a full sort), and the rank window + regression run on 256 rows in
    * one partition — constant post-aggregate work at any corpus size. */
  def xZipfFit(s: SparkSession, dir: String, topN: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(w))
      .groupBy()
      .agg(count(lit(1)).as("vocab_n"),
        round(regr_slope(log(col("freq")), log(col("rank"))), 6)
          .as("zipf_slope"),
        round(regr_intercept(log(col("freq")), log(col("rank"))), 6)
          .as("zipf_intercept"))
  }

  /** Vocabulary coverage curve: for each candidate vocab size N, the share
    * of ALL token occurrences a top-N frequency vocabulary covers (1 −
    * OOV rate) — the measurement that sizes a tokenizer's vocabulary
    * against its corpus.
    *
    * Scale shape: the vocabulary aggregate partial-aggregates map-side; the
    * head selection is TakeOrdered (per-partition top-k + k-row merge,
    * never a full vocab sort); the rank/cumulative window runs on the
    * CONSTANT-sized head (maxN rows, one partition — the [[xZipfFit]]
    * shape), and the candidate sizes ride a 5-row broadcast. Corpus size
    * only ever flows through the one grouped aggregate. */
  def xVocabCoverage(s: SparkSession, dir: String,
                     sizes: Seq[Long] = Seq(64L, 256L, 1024L, 4096L, 16384L))
      : DataFrame = {
    val vocab = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .localCheckpoint() // head + grand total both read it
    val total = vocab.agg(sum("freq").as("total_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    val head = vocab
      .orderBy(col("freq").desc, col("token").asc)
      .limit(sizes.max.toInt)
      .withColumn("rank", row_number().over(w))
    val ns = s.range(1).select(explode(typedLit(sizes)).as("n_vocab"))
    broadcast(ns).join(head, col("rank") <= col("n_vocab"))
      .groupBy("n_vocab").agg(sum("freq").as("covered"))
      .crossJoin(broadcast(total)) // one-row grand total
      .select(col("n_vocab"), col("covered"), col("total_tokens"),
        round(col("covered") / col("total_tokens") + lit(1e-9), 6)
          .as("coverage"))
      .orderBy("n_vocab")
  }

  /** Context-length fit curve: for each candidate training sequence length
    * L, what chunking the corpus into L-token windows costs — padding waste
    * (unfilled tail of each doc's last chunk, the packing-efficiency upper
    * bound) and single-chunk truncation loss (tokens beyond L, what a
    * truncate-don't-chunk policy throws away). The two ratios bracket the
    * context-length decision the same way [[xVocabCoverage]] brackets vocab
    * size.
    *
    * Scale shape: one narrow map over the corpus (token count only — text
    * never leaves the scan), replicated against a 3-row broadcast length
    * dimension, then a single 3-group aggregate. */
  def xContextFit(s: SparkSession, dir: String,
                  lens: Seq[Long] = Seq(128L, 512L, 2048L)): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
    val ls = s.range(1).select(explode(typedLit(lens)).as("seq_len"))
    docs.crossJoin(broadcast(ls))
      .select(col("seq_len"), col("n_tok"),
        floor((col("n_tok") + col("seq_len") - lit(1.0)) / col("seq_len"))
          .cast("long").as("ch"),
        greatest(col("n_tok") - col("seq_len"), lit(0L)).as("tr"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"), sum("ch").as("n_chunks"),
        sum("n_tok").as("tot"), sum("tr").as("trunc"))
      .select(col("seq_len"), col("n_docs"), col("n_chunks"),
        round((col("n_chunks") * col("seq_len") - col("tot")).cast("double") /
          (col("n_chunks") * col("seq_len")) + lit(1e-9), 6)
          .as("pad_waste_ratio"),
        round(col("trunc").cast("double") / col("tot") + lit(1e-9), 6)
          .as("trunc_loss_ratio"))
      .orderBy("seq_len")
  }

  /** Source-drift matrix: directed KL divergence between the unigram
    * distributions of every source pair, measured over the global top-N
    * vocabulary plus an out-of-vocabulary bucket (the standard bounded-
    * support drift monitor: a fixed category set makes the divergence
    * well-defined and cheap no matter how large the long tail is).
    * Add-one smoothing over the N+1 categories keeps every term finite;
    * each distribution sums to exactly 1 by construction. Complements
    * [[xCorpusOverlap]] (set containment) with a frequency-shape signal —
    * the input a mixture tuner reads before re-weighting sources.
    *
    * Scale shape: the corpus flows through ONE (source, token) aggregate;
    * the head is TakeOrdered; the dense source×(N+1) grid, totals, and the
    * pair join all operate on #sources·(N+1) rows — constant-sized
    * regardless of corpus scale. */
  def xSourceDrift(s: SparkSession, dir: String, topN: Int = 256): DataFrame = {
    val sct = Tables.load(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint() // head + totals + head-counts all read it
    val head = sct.groupBy("token").agg(sum("c").as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topN)
      .select("token")
    val totals = sct.groupBy("source").agg(sum("c").as("n_s"))
    val headCounts = sct.join(broadcast(head), "token")
      .select(col("source"), col("token"), col("c"))
    val grid = totals.select("source").crossJoin(broadcast(head))
      .join(headCounts, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        coalesce(col("c"), lit(0L)).as("c"))
    val oov = totals
      .join(headCounts.groupBy("source").agg(sum("c").as("hs")),
        Seq("source"), "left")
      .select(col("source"), lit("#OOV#").as("token"),
        (col("n_s") - coalesce(col("hs"), lit(0L))).as("c"))
    // categories = |head| + 1 (OOV) — the head can be smaller than topN on
    // small vocabularies, and the smoothing denominator must match the
    // actual support size or the distributions don't sum to 1
    val nCat = head.agg((count(lit(1)) + lit(1)).as("n_cat"))
    // Materialized: the self-join below references the distribution frame on
    // both sides — without this the grid/OOV/totals lineage (and its joins)
    // re-executes per side. The frame is #sources x (N+1) rows, so the
    // checkpoint is constant-sized at any corpus scale.
    val dist = grid.union(oov).join(totals, "source")
      .crossJoin(broadcast(nCat))
      .select(col("source"), col("token"),
        ((col("c") + lit(1)).cast("double") /
          (col("n_s") + col("n_cat"))).as("p"))
      .localCheckpoint()
    dist.as("a").join(dist.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(round(sum(col("a.p") * log(col("a.p") / col("b.p"))) + lit(1e-9), 6)
        .as("kl"))
      .orderBy("source_a", "source_b")
  }

  /** Corpus health report — the per-(lang, source) dashboard a curation
    * run is monitored by: document counts, exact-dup rate (distinct content
    * hashes vs rows), and token-length stats. One grouped aggregate; the
    * distinct count is Spark's two-phase distinct aggregation (partial on
    * (lang, source, fp), then final), so no worker ever holds a group's
    * full hash set. */
  def xCorpusReport(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("source"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_unique"),
        round(lit(1.0) - countDistinct("fp").cast("double") /
          count(lit(1)) + lit(1e-9), 4).as("dup_ratio"),
        round(avg("n_tok") + lit(1e-9), 2).as("mean_tokens"),
        max("n_tok").as("max_tokens"))
      .orderBy("lang", "source")

  val queries: Map[String, Q] = Map(
    "x_corpus_report" -> xCorpusReport,
    "x_canonical_docs" -> xCanonicalDocs,
    "x_split_leakage_safe" -> xSplitLeakageSafe,
    "x_vocab_topk" -> ((s, dir) => xVocabTopk(s, dir)),
    "x_inverted_index" -> ((s, dir) => xInvertedIndex(s, dir)),
    "x_vocab_coverage" -> ((s, dir) => xVocabCoverage(s, dir)),
    "x_context_fit" -> ((s, dir) => xContextFit(s, dir)),
    "x_source_drift" -> ((s, dir) => xSourceDrift(s, dir)),
    "x_zipf_fit" -> ((s, dir) => xZipfFit(s, dir)),
    "x_curate_corpus" -> ((s, dir) => xCurateCorpus(s, dir)),
    "x_decontaminate" -> xDecontaminate,
    "x_decontaminate_bloom" -> xDecontaminateBloom,
    "x_contamination_report" -> xContaminationReport,
    "x_boilerplate" -> ((s, dir) => xBoilerplate(s, dir)),
    "x_dup_clusters" -> ((s, dir) => xDupClusters(s, dir)),
    "x_cluster_histogram" -> xClusterHistogram,
    "x_dup_quality" -> xDupQuality,
    "x_quality_calibration" -> xQualityCalibration,
    "x_dup_pagerank" -> ((s, dir) => xDupPagerank(s, dir)),
    "x_triangles" -> ((s, dir) => xTriangles(s, dir)),
    "x_sample_hash" -> xSampleHash,
    "x_dsir_select" -> ((s, dir) => xDsirSelect(s, dir)),
    "x_sample_weighted" -> ((s, dir) => xSampleWeighted(s, dir)),
    "x_sample_mixture" -> xSampleMixture,
    "x_length_histogram" -> xLengthHistogram,
    "x_corpus_overlap" -> xCorpusOverlap,
    "x_source_budget" -> xSourceBudget,
    "x_ngram_novelty" -> xNgramNovelty,
    "x_shard_manifest" -> ((s, dir) => xShardManifest(s, dir)),
    "x_sample_stratified" -> ((s, dir) => xSampleStratified(s, dir)),
    "x_pack_sequences" -> ((s, dir) => xPackSequences(s, dir)),
    "x_chunk_documents" -> ((s, dir) => xChunkDocuments(s, dir)),
    "x_paragraph_dedup" -> ((s, dir) => xParagraphDedup(s, dir)),
    "x_tfidf_top" -> xTfidfTop
  )

  /** Shared recursive connected-components prefix (same shingle/band/score
    * pipeline as the x_minhash_pairs oracle): `cl(doc_id, cluster)` labels
    * docs that appear in a near-dup pair; `lab(doc_id, cluster, n_tok)`
    * extends that to every document, singletons labeled by their own id —
    * the DuckDB twin of [[allDocLabels]]. */
  private val ClusterLabelCte =
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
      |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t),
      |sig AS (SELECT doc_id, sh,
      |  list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 1, 8))) AS band FROM sh),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
      |    / len(list_distinct(a.sh || b.sh)) AS j
      |  FROM sig a JOIN sig b ON a.band = b.band AND a.doc_id < b.doc_id),
      |e0 AS (SELECT doc_a, doc_b FROM pr WHERE round(j, 4) >= 0.5),
      |edges AS (SELECT doc_a, doc_b FROM e0 UNION ALL SELECT doc_b, doc_a FROM e0),
      |nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
      |reach(doc_id, r) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT e.doc_a, reach.r FROM edges e JOIN reach ON e.doc_b = reach.doc_id),
      |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1),
      |lab AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster,
      |  len(string_split(d.text,' ')) AS n_tok
      |  FROM documents d LEFT JOIN cl USING (doc_id))""".stripMargin

  private val DecontaminateOracle =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |  range(1, greatest(len(toks)-1, 2)),
      |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
      |SELECT doc_id, count(*) AS n_shared
      |FROM sh JOIN ev USING (shingle) WHERE doc_id >= 10
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "x_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n_tokens,
        |  unnest(range(0, (len(toks) - 1) // 24 + 1)) AS chunk_id, toks FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |CAST(chunk_id AS BIGINT) AS chunk_id,
        |CAST(least(32, n_tokens - chunk_id * 24) AS BIGINT) AS chunk_tokens,
        |md5(array_to_string(
        |  toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n_tokens)], ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "x_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c0 AS (SELECT doc_id, toks,
        |  unnest(range(0, (len(toks) - 1) // 8 + 1)) AS chunk_idx FROM t),
        |c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[chunk_idx * 8 + 1 : chunk_idx * 8 + 8], ' ')
        |    AS chunk FROM c0),
        |m AS (SELECT doc_id, chunk, row_number() OVER (
        |  PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(sum(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) +
        |  greatest(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) - 1, 0) AS BIGINT)
        |  AS chars_after,
        |round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*) + 1e-9, 4) AS keep_ratio
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang, CAST(floor(doc_id / 1000) AS BIGINT) AS shard,
        |  len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT *, COALESCE(sum(n_tok) OVER (PARTITION BY lang, shard
        |  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt FROM t),
        |p AS (SELECT lang, shard, CAST(floor(strt / 2048) AS BIGINT) AS seq_id,
        |  doc_id, n_tok FROM c)
        |SELECT lang, shard, seq_id, count(*) AS n_docs,
        |CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "x_curate_corpus" ->
      """WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
        |cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (shingle) WHERE sh.doc_id >= 10),
        |dfreq AS (SELECT shingle, count(*) AS docs_with FROM sh GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |br AS (SELECT sh.doc_id,
        |  sum(CASE WHEN docs_with >= greatest(5.0, ceil(n_docs / 100.0)) THEN 1 ELSE 0 END) * 1.0 / count(*) AS ratio
        |  FROM sh JOIN dfreq USING (shingle), n GROUP BY 1),
        |bh AS (SELECT doc_id FROM br WHERE round(ratio + 1e-9, 4) > 0.3)
        |SELECT d.doc_id, d.lang, len(string_split(d.text,' ')) AS n_tokens
        |FROM documents d JOIN k USING (doc_id)
        |WHERE d.doc_id >= 10 AND d.lang = 'en'
        |  AND len(string_split(d.text,' ')) >= 20
        |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bh)
        |ORDER BY d.doc_id""".stripMargin,
    "x_corpus_report" ->
      """SELECT lang, source, count(*) AS n_docs,
        |count(DISTINCT md5(text)) AS n_unique,
        |round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) + 1e-9, 4) AS dup_ratio,
        |round(avg(len(string_split(text, ' '))) + 1e-9, 2) AS mean_tokens,
        |CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_contamination_report" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
        |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id < 10)
        |SELECT eval_id, count(DISTINCT sh.doc_id) AS n_docs_hit,
        |count(*) AS n_shared
        |FROM sh JOIN ev USING (shingle) WHERE sh.doc_id >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_decontaminate" -> DecontaminateOracle,
    // The bloom variant is exact by construction (confirm join removes the
    // false-positive tail) — same result, same oracle.
    "x_decontaminate_bloom" -> DecontaminateOracle,
    "x_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
        |dfreq AS (SELECT shingle, count(*) AS docs_with FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_sh,
        |CAST(sum(CASE WHEN docs_with >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |round(sum(CASE WHEN docs_with >= 5 THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-9, 4) AS boiler_ratio
        |FROM sh JOIN dfreq USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Recursive reachability: cluster = min reachable doc id over the
    // thresholded near-dup pair graph (same candidate/scoring pipeline as
    // the x_minhash_pairs oracle).
    "x_dup_clusters" ->
      (ClusterLabelCte + "\nSELECT doc_id, cluster FROM cl ORDER BY 1"),
    // e0 is the ordered (lo < hi) near-dup edge list from the shared CTE.
    "x_triangles" ->
      (ClusterLabelCte +
        """
          |SELECT e1.doc_a AS doc_a, e1.doc_b AS doc_b, e2.doc_b AS doc_c
          |FROM e0 e1 JOIN e0 e2 ON e1.doc_b = e2.doc_a
          |JOIN e0 e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
          |ORDER BY doc_a, doc_b, doc_c""".stripMargin),
    // Unrolled 3-iteration twin of the power loop; shares the edge CTEs.
    "x_dup_pagerank" ->
      (ClusterLabelCte +
        """
          |, deg AS (SELECT doc_a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
          |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
          |p0 AS (SELECT doc_id, deg, 1.0 / n AS pr FROM deg, nn),
          |p1 AS (SELECT d.doc_id, d.deg,
          |  0.15 / nn.n + 0.85 * coalesce(sum(p.pr / p.deg), 0) AS pr
          |  FROM deg d JOIN edges e ON e.doc_b = d.doc_id
          |  JOIN p0 p ON p.doc_id = e.doc_a, nn
          |  GROUP BY d.doc_id, d.deg, nn.n),
          |p2 AS (SELECT d.doc_id, d.deg,
          |  0.15 / nn.n + 0.85 * coalesce(sum(p.pr / p.deg), 0) AS pr
          |  FROM deg d JOIN edges e ON e.doc_b = d.doc_id
          |  JOIN p1 p ON p.doc_id = e.doc_a, nn
          |  GROUP BY d.doc_id, d.deg, nn.n),
          |p3 AS (SELECT d.doc_id, d.deg,
          |  0.15 / nn.n + 0.85 * coalesce(sum(p.pr / p.deg), 0) AS pr
          |  FROM deg d JOIN edges e ON e.doc_b = d.doc_id
          |  JOIN p2 p ON p.doc_id = e.doc_a, nn
          |  GROUP BY d.doc_id, d.deg, nn.n)
          |SELECT doc_id, deg, round(pr + 1e-9, 6) AS pagerank
          |FROM p3 ORDER BY doc_id""".stripMargin),
    "x_quality_calibration" ->
      (ClusterLabelCte +
        """
          |, q AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
          |f AS (SELECT doc_id,
          |  CAST(len(list_filter(toks, x -> x IN
          |    ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
          |    / len(toks) AS stop_ratio,
          |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
          |  least(1.0, len(toks) / 500.0) AS len_norm,
          |  CAST(n_chars AS DOUBLE) / len(toks) AS cpt FROM q),
          |sc AS (SELECT doc_id,
          |  round(0.35 * stop_ratio + 0.35 * ttr + 0.2 * len_norm
          |    + 0.1 * (1.0 - least(1.0, abs(cpt - 5) / 5.0)) + 1e-9, 4) AS score
          |  FROM f),
          |b AS (SELECT quantile_cont(score,
          |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM sc),
          |dec AS (SELECT sc.doc_id, score,
          |  CAST(1 + len(list_filter(b.bs, x -> score > x)) AS INT) AS decile
          |  FROM sc, b)
          |SELECT decile, count(*) AS n_docs,
          |CAST(coalesce(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 END), 0)
          |  AS BIGINT) AS n_dup,
          |round(avg(score) + 1e-9, 6) AS avg_score,
          |round(coalesce(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 END), 0)
          |  / count(*)::DOUBLE + 1e-9, 6) AS dup_rate
          |FROM dec LEFT JOIN cl ON cl.doc_id = dec.doc_id
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    "x_dup_quality" ->
      (ClusterLabelCte +
        """
          |, q AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
          |f AS (SELECT doc_id,
          |  CAST(len(list_filter(toks, x -> x IN
          |    ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
          |    / len(toks) AS stop_ratio,
          |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
          |  least(1.0, len(toks) / 500.0) AS len_norm,
          |  CAST(n_chars AS DOUBLE) / len(toks) AS cpt FROM q),
          |sc AS (SELECT doc_id,
          |  round(0.35 * stop_ratio + 0.35 * ttr + 0.2 * len_norm
          |    + 0.1 * (1.0 - least(1.0, abs(cpt - 5) / 5.0)) + 1e-9, 4) AS score
          |  FROM f),
          |st AS (SELECT sc.doc_id, score,
          |  CASE WHEN cl.doc_id IS NOT NULL THEN 'near_dup' ELSE 'unique' END AS status
          |  FROM sc LEFT JOIN cl ON cl.doc_id = sc.doc_id)
          |SELECT status, count(*) AS n_docs,
          |round(avg(score) + 1e-9, 4) AS avg_score,
          |min(score) AS min_score, max(score) AS max_score
          |FROM st GROUP BY 1 ORDER BY 1""".stripMargin),
    "x_cluster_histogram" ->
      (ClusterLabelCte +
        """
          |, sz AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY 1),
          |h AS (SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1),
          |tot AS (SELECT count(*) AS n_total FROM documents),
          |cd AS (SELECT COALESCE(sum(cluster_size), 0) AS n_clustered FROM sz)
          |SELECT cluster_size, n_clusters,
          |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs FROM h
          |UNION ALL
          |SELECT CAST(1 AS BIGINT) AS cluster_size,
          |  CAST(n_total - n_clustered AS BIGINT) AS n_clusters,
          |  CAST(n_total - n_clustered AS BIGINT) AS n_docs FROM tot, cd
          |ORDER BY cluster_size""".stripMargin),
    "x_canonical_docs" ->
      (ClusterLabelCte +
        """
          |, kp AS (SELECT cluster, doc_id, n_tok,
          |  count(*) OVER (PARTITION BY cluster) AS n_members,
          |  row_number() OVER (PARTITION BY cluster
          |    ORDER BY n_tok DESC, doc_id) AS rk FROM lab)
          |SELECT cluster, n_members, doc_id AS keeper_doc,
          |  n_tok AS keeper_tokens
          |FROM kp WHERE rk = 1 ORDER BY cluster""".stripMargin),
    "x_split_leakage_safe" ->
      (ClusterLabelCte +
        """
          |SELECT doc_id, cluster,
          |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'b'
          |         THEN 'train'
          |       WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'd'
          |         THEN 'val'
          |       ELSE 'test' END AS split
          |FROM lab ORDER BY doc_id""".stripMargin),
    "x_vocab_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, doc_id, count(*) AS tf FROM toks
        |  WHERE len(token) > 0 GROUP BY 1, 2)
        |SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences,
        |  count(*) AS n_docs
        |FROM f GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,
    "x_inverted_index" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |p AS (SELECT DISTINCT token, doc_id FROM toks WHERE len(token) > 0),
        |rare AS (SELECT token, count(*) AS df FROM p GROUP BY 1
        |  ORDER BY df ASC, token ASC LIMIT 32)
        |SELECT p.token, df, doc_id
        |FROM p JOIN rare USING (token)
        |ORDER BY token, doc_id""".stripMargin,
    // Same top-256 head + '#OOV#' bucket + add-one smoothing; the per-pair
    // sum is 257 double terms, fp-order noise absorbed by round(+1e-9, 6)
    "x_source_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |sct AS (SELECT source, token, count(*) AS c FROM tok
        |  WHERE len(token) > 0 GROUP BY 1, 2),
        |head AS (SELECT token FROM (SELECT token, sum(c) AS freq FROM sct
        |  GROUP BY 1 ORDER BY freq DESC, token LIMIT 256)),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sct GROUP BY 1),
        |hc AS (SELECT sct.source, sct.token, c FROM sct JOIN head USING (token)),
        |grid AS (SELECT t.source, h.token, COALESCE(hc.c, 0) AS c
        |  FROM tot t CROSS JOIN head h
        |  LEFT JOIN hc ON hc.source = t.source AND hc.token = h.token),
        |oov AS (SELECT t.source, '#OOV#' AS token,
        |  t.n_s - COALESCE(s.hs, 0) AS c FROM tot t
        |  LEFT JOIN (SELECT source, sum(c) AS hs FROM hc GROUP BY 1) s
        |    ON s.source = t.source),
        |nc AS (SELECT count(*) + 1 AS n_cat FROM head),
        |dist AS (SELECT g.source, g.token,
        |  CAST(g.c + 1 AS DOUBLE) / (t.n_s + n_cat) AS p
        |  FROM (SELECT * FROM grid UNION ALL SELECT * FROM oov) g
        |  JOIN tot t ON t.source = g.source CROSS JOIN nc)
        |SELECT a.source AS source_a, b.source AS source_b,
        |round(sum(a.p * ln(a.p / b.p)) + 1e-9, 6) AS kl
        |FROM dist a JOIN dist b ON a.token = b.token AND a.source <> b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_context_fit" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents),
        |ls AS (SELECT CAST(unnest([128, 512, 2048]) AS BIGINT) AS seq_len),
        |x AS (SELECT seq_len, n_tok,
        |  CAST(floor((n_tok + seq_len - 1.0) / seq_len) AS BIGINT) AS ch,
        |  CASE WHEN n_tok > seq_len THEN n_tok - seq_len ELSE 0 END AS tr
        |  FROM d CROSS JOIN ls)
        |SELECT seq_len, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(ch) AS BIGINT) AS n_chunks,
        |round(CAST(sum(ch) * seq_len - sum(n_tok) AS DOUBLE)
        |  / (sum(ch) * seq_len) + 1e-9, 6) AS pad_waste_ratio,
        |round(CAST(sum(tr) AS DOUBLE) / sum(n_tok) + 1e-9, 6) AS trunc_loss_ratio
        |FROM x GROUP BY seq_len ORDER BY seq_len""".stripMargin,
    "x_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |v AS (SELECT token, count(*) AS freq FROM tok WHERE len(token) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_tokens FROM v),
        |head AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank
        |  FROM (SELECT token, freq FROM v ORDER BY freq DESC, token LIMIT 16384)),
        |ns AS (SELECT CAST(unnest([64, 256, 1024, 4096, 16384]) AS BIGINT) AS n_vocab)
        |SELECT n_vocab, CAST(sum(freq) AS BIGINT) AS covered, total_tokens,
        |round(CAST(sum(freq) AS DOUBLE) / total_tokens + 1e-9, 6) AS coverage
        |FROM ns CROSS JOIN tot JOIN head ON head.rank <= ns.n_vocab
        |GROUP BY n_vocab, total_tokens ORDER BY n_vocab""".stripMargin,
    "x_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |v AS (SELECT token, count(*) AS freq FROM tok WHERE len(token) > 0
        |  GROUP BY 1 ORDER BY freq DESC, token LIMIT 256),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM v)
        |SELECT count(*) AS vocab_n,
        |round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
        |round(regr_intercept(ln(freq), ln(rank)), 6) AS zipf_intercept
        |FROM r""".stripMargin,
    "x_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3'
        |ORDER BY doc_id""".stripMargin,
    // bucket from the first 4 md5 hex chars: exact 16-bit nibble arithmetic
    // (matches Spark's conv), add-one smoothing on both distributions
    "x_dsir_select" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bk AS (SELECT doc_id, lang,
        |  CAST(list_sum(list_transform(range(1, 5), j ->
        |    CAST(strpos('0123456789abcdef', substring(md5(tok), j, 1)) - 1
        |      AS DOUBLE) * 16 ** (4 - j))) AS BIGINT) % 256 AS b
        |  FROM toks),
        |raw AS (SELECT b, count(*) AS n_r,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
        |  FROM bk GROUP BY 1),
        |tot AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |    AS DOUBLE) AS nt_total,
        |  CAST(count(*) AS DOUBLE) AS nr_total FROM bk),
        |dist AS (SELECT b, ln(((n_t + 1.0) / (nt_total + 256)) /
        |  ((n_r + 1.0) / (nr_total + 256))) AS llr FROM raw, tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |round(avg(llr) + 1e-9, 4) + 0.0 AS dsir_logratio
        |FROM bk JOIN dist USING (b)
        |GROUP BY doc_id ORDER BY dsir_logratio DESC, doc_id LIMIT 50""".stripMargin,
    // u from the first 8 md5 hex chars (exact integer arithmetic on nibbles;
    // every intermediate < 2^32 so the DOUBLE math is exact and matches
    // Spark's conv()); ordering ties broken by doc_id on both sides.
    "x_sample_weighted" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8 FROM documents
        |  WHERE n_chars > 0),
        |v AS (SELECT doc_id, lang, n_chars,
        |  list_sum(list_transform(range(1, 9), j ->
        |    CAST(strpos('0123456789abcdef', substring(h8, j, 1)) - 1 AS DOUBLE)
        |      * 16 ** (8 - j))) AS hv FROM h),
        |k AS (SELECT doc_id, lang, n_chars,
        |  -ln((hv + 1.0) / 4294967296.0) / n_chars AS k0 FROM v)
        |SELECT doc_id, lang, n_chars,
        |round(k0 * 1e6 + 1e-9, 4) AS skey_ppm
        |FROM k ORDER BY k0, doc_id LIMIT 50""".stripMargin,
    "x_sample_mixture" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'zh' THEN '2000' WHEN 'en' THEN '4000'
        |    WHEN 'fr' THEN '8000' WHEN 'de' THEN 'c000'
        |    WHEN 'es' THEN 'ffff' ELSE '0000' END
        |ORDER BY doc_id""".stripMargin,
    "x_length_histogram" ->
      """SELECT CAST(floor(len(string_split(text, ' ')) / 50) * 50 AS BIGINT) AS bucket_lo,
        |count(*) AS n_docs FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_shard_manifest" ->
      """WITH d AS (SELECT doc_id, md5(text) AS fp,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 8 AS shard
        |  FROM documents),
        |w AS (SELECT shard, fp, n_tok,
        |  CAST(list_sum(list_transform(range(1, 9), j ->
        |    CAST(strpos('0123456789abcdef', substring(fp, j, 1)) - 1 AS DOUBLE) * 16 ** (8 - j))) AS BIGINT) AS w0,
        |  CAST(list_sum(list_transform(range(9, 17), j ->
        |    CAST(strpos('0123456789abcdef', substring(fp, j, 1)) - 1 AS DOUBLE) * 16 ** (16 - j))) AS BIGINT) AS w1,
        |  CAST(list_sum(list_transform(range(17, 25), j ->
        |    CAST(strpos('0123456789abcdef', substring(fp, j, 1)) - 1 AS DOUBLE) * 16 ** (24 - j))) AS BIGINT) AS w2,
        |  CAST(list_sum(list_transform(range(25, 33), j ->
        |    CAST(strpos('0123456789abcdef', substring(fp, j, 1)) - 1 AS DOUBLE) * 16 ** (32 - j))) AS BIGINT) AS w3
        |  FROM d)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |printf('%08x', bit_xor(w0)) || printf('%08x', bit_xor(w1))
        |  || printf('%08x', bit_xor(w2)) || printf('%08x', bit_xor(w3)) AS checksum
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_sh,
        |CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |round(CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*) + 1e-9, 4) AS novelty
        |FROM sh JOIN f USING (shingle) GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_source_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |b AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |  count(*) AS n_docs FROM d GROUP BY 1),
        |g AS (SELECT CAST(sum(tokens_total) AS DOUBLE) AS total,
        |  CAST(count(*) AS DOUBLE) AS n_src FROM b),
        |r AS (SELECT source, tokens_total, n_docs,
        |  least(1.0, total * 0.5 / n_src / tokens_total) AS rate FROM b, g),
        |u AS (SELECT doc_id, source, n_tok,
        |  list_sum(list_transform(range(1, 9), j ->
        |    CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS DOUBLE)
        |      * 16 ** (8 - j))) / 4294967296.0 AS uv FROM d),
        |k AS (SELECT u.source, count(*) AS n_kept,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_kept
        |  FROM u JOIN r USING (source) WHERE uv < rate GROUP BY 1)
        |SELECT r.source, n_docs, tokens_total,
        |CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        |CAST(COALESCE(tokens_kept, 0) AS BIGINT) AS tokens_kept,
        |round(rate * 1e6 + 1e-9, 4) AS rate_ppm
        |FROM r LEFT JOIN k ON k.source = r.source
        |ORDER BY r.source""".stripMargin,
    "x_corpus_overlap" ->
      """WITH t AS (SELECT source, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle FROM t),
        |ss AS (SELECT DISTINCT source, shingle FROM sh),
        |sz AS (SELECT source, count(*) AS n_a FROM ss GROUP BY 1),
        |iv AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |round(CAST(n_shared AS DOUBLE) / n_a, 4) AS containment
        |FROM iv JOIN sz ON sz.source = iv.source_a
        |ORDER BY source_a, source_b""".stripMargin,
    "x_sample_stratified" ->
      """WITH r AS (SELECT lang, doc_id, row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, rk, doc_id FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "x_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfr AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tok, tf,
        |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, tok) AS rk
        |  FROM tf JOIN dfr USING (tok), n)
        |SELECT doc_id, rk, tok, tfidf FROM sc WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin
  )
}
