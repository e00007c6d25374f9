package graft.ext

import graft.Tables
import graft.functions.CosineSimilarity.cosineSim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.3).
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast, the
  * corpus streams through a single map stage (score) + one shuffle (per-query
  * top-k). Scale path: LSH bucketing by hyperplane sign bits cuts the
  * candidate set from N to ~N/2^bits per query *before* any scoring, the IVF
  * idea expressed as a Spark equi-join.
  *
  * Dot products use `zip_with`+`aggregate` higher-order functions in double
  * precision — sequential left-fold element order, which is what makes the
  * DuckDB oracle (`list_dot_product`) agree exactly.
  *
  * Each step of the family has one definition below the queries: the query
  * set and top-k ranker ([[querySet]], [[topK]]), the hyperplane projection
  * ([[projections]]), the PQ encoder ([[pqEncode]]), the recall@5 eval
  * ([[recallAt5]]), and the ordered collect and fold ([[collectOrdered]],
  * [[foldSum]]). The values the oracles hard-code are the constants next to
  * the oracle SQL.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Fused dot product of two `array<double>` columns. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The valid-embedding subset: non-NULL, non-zero norm. A NULL vector
    * has no similarity to anything (and crashes both engines' dot
    * products); a zero vector has no direction, and under ANSI mode its
    * cosine denominator throws DIVIDE_BY_ZERO. Filtering once at the
    * source keeps every downstream formula guard-free; all oracles carry
    * the identical WHERE. */
  private[ext] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .filter(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x) > 0)

  // ---- queries ----------------------------------------------------------

  /** Brute-force cosine top-5 for the first 10 vectors as the query set.
    * The tiny query side is broadcast so the corpus is scanned exactly once
    * with no shuffle before the per-query top-k. */
  def xAnnCosineTopk(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(s, dir, cosine)

  /** Brute-force top-k scored by the fused native `cosine_sim` Catalyst
    * expression ([[graft.functions.CosineSimilarity]]) — one vector pass, no
    * intermediate arrays, whole-stage codegen. Bit-identical to the HOF
    * variant, so it shares that oracle's SQL. */
  def xAnnCosineFused(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(s, dir, cosineSim)

  private def bruteForceTopK(s: SparkSession, dir: String,
                             score: (Column, Column) => Column): DataFrame = {
    val e = emb(s, dir)
    topKRows(topK(exactPairs(e, querySet(e)), score))
  }

  /** Embedding-cosine near-dup detection (the dedup modality for vector
    * corpora), LSH-bucketed: the 8 hyperplane sign bits are split into
    * `Bands` bands of `RowsPerBand` bits; a pair is a candidate iff it
    * shares ALL bits of at least one band (standard OR-amplification — add
    * bands to raise recall, rows to cut candidates). Candidate generation is
    * an equi-join per band on a fixed-width key, the quadratic scoring never
    * leaves a bucket, and NOTHING broadcasts the corpus — at 100 TB each
    * band is one shuffle of (key, id, vector) and bucket-local compare.
    * Scoring uses the fused native `cosine_sim`; the oracle reproduces the
    * exact bucketing (planes are md5-parity-derived, see [[planeSign]]). */
  def xEmbeddingNeardup(s: SparkSession, dir: String): DataFrame =
    bandPairs(bandSignatures(emb(s, dir)), _ < _, "vec_a", "vec_b")
      .filter(col("sim") >= NeardupThreshold)
      .dropDuplicates("vec_a", "vec_b") // a pair may match several bands
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")

  /** Semantic k-NN graph — each vector's top-k nearest neighbors among its
    * LSH-band candidates (the structure SemDeDup-style semantic dedup and
    * graph clustering consume). Same hyperplane bands as
    * [[xEmbeddingNeardup]], but DIRECTED per-vector top-k instead of a
    * thresholded pair list: every vector ranks only the candidates sharing
    * a band with it, so the join fans out per bucket (sub-quadratic by the
    * LSH guarantee) and the ranking window partitions on vec_id — each
    * partition is one vector's candidate set, never the corpus. */
  def xKnnGraph(s: SparkSession, dir: String): DataFrame = {
    // Referenced 2x per band (both self-join sides): materialize once so
    // the embeddings scan + 8x64-dim signature arithmetic doesn't replay
    // per reference (same idiom as Dedup.lshPairs / Fingerprint pairs).
    val sig = bandSignatures(emb(s, dir)).localCheckpoint()
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("nbr"))
    bandPairs(sig, _ =!= _, "vec_id", "nbr")
      .dropDuplicates("vec_id", "nbr") // a pair may share several bands
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select(col("vec_id"), col("rk"), col("nbr"),
        round(col("sim"), 6).as("cosine"))
      .orderBy("vec_id", "rk")
  }

  /** Centroid of each label class — the "coarse quantizer" side of an IVF
    * index: per-dimension mean via explode+groupBy (shuffles (label, dim,
    * partial-sum) triples, never whole vectors). */
  def xLabelCentroids(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(avg("x"), 6).as("mean_x"), count(lit(1)).as("n"))
      .orderBy("label", "dim")

  /** Embedding/feature drift monitor — the check a feature store or
    * embedding pipeline runs between snapshots before training on the new
    * one: per-dimension means of a reference cohort (even vec_ids) versus
    * a candidate cohort (odd vec_ids), with the per-dim delta and a drift
    * flag. The candidate carries a RENDERED shift (+0.2 on the first 4
    * dims — same fixture idiom as the migration renders: the table has no
    * second snapshot, so the signal is injected and the DETECTOR is what
    * the oracle checks end-to-end); the flag threshold (half the shift)
    * must localize exactly those dims.
    *
    * Scale shape: one posexplode + one (dim, cohort)-grouped
    * map-side-combinable aggregate; everything after is dim-bounded (64
    * rows). No collects, no joins on the corpus. */
  def xEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val ref = e.filter(col("vec_id") % 2 === 0).select(col("v"))
    val cand = e.filter(col("vec_id") % 2 === 1)
      .select(transform(col("v"), (x, i) =>
        x + when(i < DriftShiftDims, lit(DriftShift)).otherwise(lit(0.0)))
        .as("v"))
    def dims(df: DataFrame, half: String) = df
      .select(lit(half).as("half"), posexplode(col("v")).as(Seq("dim", "x")))
    val agg = dims(ref, "ref").unionByName(dims(cand, "cand"))
      .groupBy("dim", "half")
      .agg(avg("x").as("m"), count(lit(1)).as("n"))
    val a = agg.filter(col("half") === "ref")
      .select(col("dim"), col("m").as("m_a"), col("n").as("n_a"))
    val b = agg.filter(col("half") === "cand")
      .select(col("dim"), col("m").as("m_b"), col("n").as("n_b"))
    // `+ 0.0` after round: IEEE −0.0 + 0.0 = +0.0, so a near-zero delta
    // that rounds to signed zero prints identically in both engines
    // (DuckDB keeps the IEEE sign; JVM BigDecimal rounding drops it)
    val d = round(col("m_b") - col("m_a"), 4) + lit(0.0)
    a.join(b, Seq("dim"))
      .select(col("dim"), col("n_a"), col("n_b"),
        (round(col("m_a"), 6) + lit(0.0)).as("mean_ref"),
        (round(col("m_b"), 6) + lit(0.0)).as("mean_cand"),
        d.as("d_mean"), (abs(d) > DriftShift / 2).as("drifted"))
      .orderBy("dim")
  }

  /** LSH-bucketed ANN: 8 deterministic pseudo-hyperplanes (sign of a
    * hash-seeded ±1 projection); vectors sharing a query's bucket are the
    * only candidates scored. The random-projection matrix is a broadcast
    * literal (the IVF coarse-quantizer pattern: tiny model to every
    * executor, single map stage over the corpus). Rows-only check
    * (bucketing is heuristic); properties pinned in ExtSpec. */
  def xAnnLshBuckets(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("vec_id"), concat(signBits(col("v")): _*).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"))
      .orderBy("bucket")

  /** IVF assignment step: every vector assigned to its nearest label
    * centroid. The centroid "index" is tiny and broadcast; the corpus makes
    * one pass — at 100 TB this is the partition-the-corpus-by-cell stage
    * that makes subsequent ANN probes touch 1/k of the data. */
  def xIvfAssign(s: SparkSession, dir: String): DataFrame =
    ivfAssignments(s, dir)
      .select(col("vec_id"), col("label"), col("c_label").as("assigned_label"),
        round(col("sim"), 6).as("sim"))
      .orderBy("vec_id")

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then drop a vector when a near-twin
    * (cosine above threshold) exists WITHIN ITS CELL — cross-cell pairs are
    * never scored. Keeper = lowest vec_id of a twin group (deterministic,
    * same convention as the text-side dedup keepers). Per-cell all-pairs is
    * the SemDeDup design point: the quadratic term is bounded by cell size,
    * and at 100 TB the knob is k — centroid count grows with the corpus so
    * cells stay ~constant-sized and the cell equi-join stays the only
    * shuffle. Threshold 0.45 is calibrated to this synthetic corpus (random
    * embeddings have no 0.95-twins; real corpora tune this). */
  def xSemdedup(s: SparkSession, dir: String): DataFrame = {
    val assigned = cells(s, dir) // both self-join sides + the verdict spine
    val twins = assigned.as("a").join(assigned.as("b"),
        col("a.c_label") === col("b.c_label") &&
          col("b.vec_id") < col("a.vec_id"))
      .filter(cosineSim(col("a.v"), col("b.v")) > SemdedupThreshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_twins"))
    assigned.select(col("vec_id"), col("c_label").as("cell"))
      .join(twins, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_twins"), lit(0L)).as("n_twins"),
        when(col("n_twins").isNotNull, "drop").otherwise("keep").as("verdict"))
      .orderBy("vec_id")
  }

  /** The bucketed ANN probe — the scale path the brute-force top-k is the
    * baseline for: each query vector scores ONLY the corpus vectors assigned
    * to its own IVF cell (an equi-join on the cell key), top-5 within the
    * cell. At 100 TB the corpus is pre-partitioned by cell, each probe
    * touches 1/k of the data, and nothing quadratic or corpus-broadcast
    * exists anywhere in the plan. Recall is the standard IVF single-probe
    * tradeoff (raise nprobe cells for more). */
  def xAnnIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val assigned = cells(s, dir) // two readers: query side + corpus side
    topKRows(topK(cellPairs(assigned, querySet(assigned)), cosineSim))
  }

  /** Recall@5 of the IVF single-probe ANN path ([[xAnnIvfTopk]]) against
    * the exact brute-force top-5 — the index-quality eval every approximate
    * search deployment runs before trusting its index. Per query: the
    * candidate-set size its cell bought it (the efficiency side of the
    * tradeoff) and how many of the 5 true neighbors the probe kept (the
    * quality side).
    *
    * Scale shape: both arms broadcast the tiny query set and share one
    * checkpointed assignment pass; the exact arm is a full corpus scan — the
    * point of the eval, run over a SAMPLED query set (here vec_id < 10), so
    * its cost is queries × corpus, never corpus². The hit-join and the
    * per-query rollup shuffle only (q_id, vec_id) pairs. */
  def xAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val assigned = cells(s, dir) // four readers: 2 probe arms, query set, cell sizes
    val qs = querySet(assigned)
    val nCand = qs.join(assigned.groupBy("c_label").agg(count(lit(1)).as("cell_n")),
        col("q_cell") === col("c_label"))
      .select(col("q_id"), (col("cell_n") - 1).as("n_cand"))
    recallAt5(topK(exactPairs(assigned, qs), cosineSim),
      topK(cellPairs(assigned, qs), cosineSim), nCand)
  }

  /** One k-means (Lloyd) iteration — the training step that produces the
    * IVF coarse quantizer [[xIvfAssign]] consumes. Deterministic seeding
    * (centroid c = vector c, c < k) replaces random init so the oracle can
    * replay it; distance is squared L2 via the same fold-ordered dot product
    * the cosine family uses (d2 = dot(v-c, v-c)), so engines agree bitwise.
    * The k centroids broadcast; the corpus makes ONE pass for assignment
    * (argmin over k via a per-vector window on k rows), and the update is
    * an explode+groupBy over (cell, dim, component) triples — whole vectors
    * never shuffle, exactly the [[xLabelCentroids]] shape. Iterating =
    * feeding the output back as the next literal centroid set. */
  def xKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val init = e.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val diff = zip_with(col("v"), col("cv"), (x, y) => x - y)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("c_id").asc)
    val assigned = e.crossJoin(broadcast(init))
      .select(col("vec_id"), col("v"), col("c_id"), dot(diff, diff).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assigned
      .select(col("c_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("c_id", "dim")
      .agg(round(avg("x"), 6).as("mean_x"), count(lit(1)).as("n"))
      .orderBy("c_id", "dim")
  }

  /** Random-projection dimensionality reduction: every embedding mapped to
    * 8 coordinates (dot products against the md5-derived ±1 hyperplanes of
    * [[xAnnLshBuckets]], kept as REALS instead of sign bits). The 8x64
    * projection matrix is a broadcast literal; the corpus makes one narrow
    * pass — the compression stage before a cheap 8-d index or visualization
    * at 100 TB. */
  def xEmbedProject(s: SparkSession, dir: String): DataFrame = {
    val coords = projections(col("v")).zipWithIndex
      .map { case (x, p) => round(x, 6).as(s"p$p") }
    emb(s, dir).select(col("vec_id") +: coords: _*).orderBy("vec_id")
  }

  /** Scalar int8 quantization of the embedding column — the storage-shrink
    * step that makes 100 TB ANN indexes fit: per-dimension global min/max
    * (one tiny aggregate, broadcast back), each component mapped to 0..255
    * with `floor(x·255 + 0.5)` (floor is engine-consistent where `round`'s
    * half-rule is not). Emits the codes comma-joined — integers, so the
    * oracle comparison is exact. 4× smaller vectors, one corpus pass. */
  def xEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val stats = e
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(collectOrdered(col("dim"), col("mn")).as("mins"),
        collectOrdered(col("dim"), col("mx")).as("maxs"))
    val code = transform(sequence(lit(0), size(col("v")) - 1), i => {
      val x = element_at(col("v"), i + 1)
      val mn = element_at(col("mins"), i + 1)
      val mx = element_at(col("maxs"), i + 1)
      when(mx === mn, lit(0L)).otherwise(
        floor((x - mn) / (mx - mn) * 255 + lit(0.5)).cast("long"))
    })
    e.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        array_join(code.cast("array<string>"), ",").as("codes"))
      .orderBy("vec_id")
  }

  /** Product quantization (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011) — the compression half of an IVF-PQ
    * index: the 64-d vector splits into m=8 contiguous 8-d subvectors, each
    * encoded as the id of its nearest codebook centroid ([[pqEncode]]), so
    * a vector becomes 8 small codes (here 3 bits each) plus a shared
    * codebook. Codes regroup per vector; emits the code string and the
    * fold-ordered total reconstruction error. */
  def xPqCodes(s: SparkSession, dir: String): DataFrame = {
    val (_, codes) = pqEncode(emb(s, dir))
    codes.groupBy("vec_id")
      .agg(collectOrdered(col("sub"), struct(col("code"), col("d2"))).as("arr"))
      .select(col("vec_id"),
        array_join(transform(col("arr"), t => t.getField("code"))
          .cast("array<string>"), ",").as("codes"),
        round(foldSum(transform(col("arr"), t => t.getField("d2"))), 6)
          .as("recon_err"))
      .orderBy("vec_id")
  }

  /** IVF+PQ ANN probe with ADC scoring (Jégou et al., TPAMI 2011 — the
    * index a 100 TB embedding store actually runs): candidates come from
    * the query's IVF cell ([[xAnnIvfTopk]]'s partition-pruning), each is
    * scored APPROXIMATELY by Asymmetric Distance Computation — the sum over
    * the m=8 PQ subspaces of the precomputed ‖q_sub − centroid(code)‖²
    * table entry, i.e. per-candidate cost is m table lookups over the
    * 3-bit codes, never a 64-d vector read — and only the top `tier`
    * survivors are re-ranked with the exact cosine. At scale: codes are
    * 8 bytes/vector (vs 512 for the raw doubles), the distance table is
    * |q|·m·k tiny rows broadcast everywhere, the cell equi-join prunes the
    * corpus, and full vectors are touched for `tier` candidates per query
    * only. Deterministic md5-free arithmetic end-to-end → DuckDB-checkable
    * (fold-ordered ADC sums, vec_id tie-breaks). */
  def xAnnIvfpq(s: SparkSession, dir: String): DataFrame =
    topKRows(ivfpqReranked(s, dir).filter(col("rnk") <= TopK),
      round(col("adc"), 6).as("adc_d2"))

  /** Recall@5 of the ADC-scored IVF+PQ probe ([[xAnnIvfpq]]) against the
    * exact brute-force top-5 — [[xAnnRecall]]'s eval with the probe arm
    * swapped for the compressed-domain path, plus the tier size actually
    * scored exactly (the cost side of the ADC tradeoff: `n_exact` vectors
    * touched at full width per query instead of the whole cell). */
  def xAnnIvfpqRecall(s: SparkSession, dir: String): DataFrame = {
    val probe = ivfpqReranked(s, dir)
      .localCheckpoint() // two readers: hit join + per-query tier size
    val e = emb(s, dir)
    recallAt5(topK(exactPairs(e, querySet(e)), cosineSim),
      probe.filter(col("rnk") <= TopK),
      probe.groupBy("q_id").agg(count(lit(1)).as("n_exact")))
  }

  // ---- shared steps -----------------------------------------------------

  /** Left-to-right sum of a double array: the order of DuckDB's
    * `list_sum` and `list_dot_product`, so both engines round alike. */
  private def foldSum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x)

  /** A group's `value`s as an array ordered by `key` (unique within the
    * group) — the Spark side of the oracles' `list(x ORDER BY k)`. */
  private def collectOrdered(key: Column, value: Column): Column =
    transform(array_sort(collect_list(struct(key.as("k"), value.as("v")))),
      t => t.getField("v"))

  /** Deterministic ±1 hyperplane component for (plane p, dim i): parity of
    * the first 16 bits of md5("p#i"). Computed once on the driver and shipped
    * as a literal — the executors do pure arithmetic, no per-row hashing. */
  private[ext] def planeSign(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p#$i".getBytes("UTF-8"))
    val first16 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    if (first16 % 2 == 0) 1.0 else -1.0
  }

  /** `v` projected onto each of the [[Planes]] ±1 hyperplanes of
    * [[planeSign]], plane p at index p. */
  private def projections(v: Column): Seq[Column] = (0 until Planes).map(p =>
    dot(v, typedLit((0 until Dims).map(planeSign(p, _)))))

  /** The sign of each projection as "1" (>= 0) or "0". */
  private def signBits(v: Column): Seq[Column] =
    projections(v).map(x => when(x >= 0, lit("1")).otherwise(lit("0")))

  /** `(vec_id, v, band0, band1, ...)`: band b concatenates sign bits
    * `b * RowsPerBand` until `(b + 1) * RowsPerBand`. */
  private def bandSignatures(e: DataFrame): DataFrame = {
    val bits = signBits(col("v"))
    e.select(col("vec_id") +: col("v") +: (0 until Bands).map(b =>
      concat(bits.slice(b * RowsPerBand, (b + 1) * RowsPerBand): _*)
        .as(s"band$b")): _*)
  }

  /** Per band, the pairs of [[bandSignatures]] rows that share the band
    * and satisfy `keep(a.vec_id, b.vec_id)`, as `(idA, idB, sim)` scored by
    * `cosine_sim`. A pair sharing several bands appears once per band. */
  private def bandPairs(sig: DataFrame, keep: (Column, Column) => Column,
                        idA: String, idB: String): DataFrame =
    (0 until Bands).map { b =>
      sig.as("a").join(sig.as("b"),
        col(s"a.band$b") === col(s"b.band$b") &&
          keep(col("a.vec_id"), col("b.vec_id")))
        .select(col("a.vec_id").as(idA), col("b.vec_id").as(idB),
          cosineSim(col("a.v"), col("b.v")).as("sim"))
    }.reduce(_ union _)

  /** Every vector with its nearest-centroid cell, vector retained —
    * the shared assignment stage of [[xIvfAssign]] and [[cells]]. */
  private def ivfAssignments(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val centroids = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg("x").as("mx"))
      .groupBy("label")
      .agg(collectOrdered(col("dim"), col("mx")).as("cv"))
      .select(col("label").as("c_label"), col("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_label").asc)
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("v"), col("c_label"),
        cosine(col("v"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** `(vec_id, v, c_label)` of [[ivfAssignments]], materialized once:
    * every caller reads it more than once. */
  private def cells(s: SparkSession, dir: String): DataFrame =
    ivfAssignments(s, dir)
      .select(col("vec_id"), col("v"), col("c_label"))
      .localCheckpoint()

  /** The query set of the top-k queries: vectors `vec_id < 10` as
    * `(q_id, qv)`, plus their IVF cell as `q_cell` when `corpus` carries
    * one. */
  private def querySet(corpus: DataFrame): DataFrame = {
    val cell =
      if (corpus.columns.contains("c_label")) Seq(col("c_label").as("q_cell"))
      else Nil
    corpus.filter(col("vec_id") < NQueries)
      .select(Seq(col("vec_id").as("q_id"), col("v").as("qv")) ++ cell: _*)
  }

  /** Every (query, corpus vector) pair but the query itself; the query set
    * is broadcast, so the corpus is scanned once. */
  private def exactPairs(corpus: DataFrame, qs: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("q_id"))

  /** The (query, corpus vector) pairs inside the query's IVF cell. */
  private def cellPairs(assigned: DataFrame, qs: DataFrame): DataFrame =
    assigned.join(broadcast(qs),
      col("c_label") === col("q_cell") && col("vec_id") =!= col("q_id"))

  /** `scored` (q_id, vec_id, sim, ...) with each query's rank `rnk`: by
    * sim descending, ties to the lower vec_id. */
  private def ranked(scored: DataFrame): DataFrame = scored.withColumn("rnk",
    row_number().over(Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)))

  /** Each query's top 5 of `pairs`, scored by `score(v, qv)`:
    * `(q_id, vec_id, sim, rnk)`. */
  private def topK(pairs: DataFrame,
                   score: (Column, Column) => Column): DataFrame =
    ranked(pairs.select(col("q_id"), col("vec_id"),
        score(col("v"), col("qv")).as("sim")))
      .filter(col("rnk") <= TopK)

  /** The output rows of a top-k query, in rank order per query. */
  private def topKRows(top: DataFrame, extra: Column*): DataFrame =
    top.select(Seq(col("q_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cosine")) ++ extra: _*)
      .orderBy("q_id", "rnk")

  /** Recall@5 of a probe's top 5 against the exact top 5, both
    * `(q_id, vec_id, ...)`: per query, `n_hits` = |exact ∩ probe| and
    * `recall_at_5`, next to the columns of `cost` (q_id plus the probe's
    * cost side). */
  private def recallAt5(exact: DataFrame, probe: DataFrame,
                        cost: DataFrame): DataFrame = {
    val hits = exact.join(
        probe.select(col("q_id").as("p_qid"), col("vec_id").as("p_vid")),
        col("q_id") === col("p_qid") && col("vec_id") === col("p_vid"), "left")
      .groupBy("q_id")
      .agg(count(col("p_vid")).as("n_hits"))
    cost.join(hits, Seq("q_id"))
      .withColumn("recall_at_5",
        round(col("n_hits") / TopK.toDouble + lit(1e-9), 6))
      .orderBy("q_id")
  }

  /** Product-quantization encoding of `vecs` (vec_id, v): each vector
    * splits into `PqM` contiguous `PqD`-dim subvectors; the codebook
    * `(csub, c_id, cv)` is the subvectors of `vec_id < PqK` (the
    * [[xKmeansStep]] seeding — one Lloyd round over these codes IS PQ
    * codebook training); each `(vec_id, sub)` gets its nearest codebook
    * entry as `code` with its squared distance `d2`. The codebook (m·k tiny
    * rows) is broadcast, the corpus explodes to m rows per vector, and the
    * argmin is `min(struct(d2, c_id))` — a map-side-combinable aggregate
    * with a deterministic tie-break, not a window. */
  private def pqEncode(vecs: DataFrame): (DataFrame, DataFrame) = {
    val subs = vecs.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(PqM - 1)),
          j => slice(col("v"), j * PqD + 1, lit(PqD)))).as(Seq("sub", "sv")))
    val cb = subs.filter(col("vec_id") < PqK)
      .select(col("sub").as("csub"), col("vec_id").as("c_id"),
        col("sv").as("cv"))
    val diff = zip_with(col("sv"), col("cv"), (x, y) => x - y)
    val codes = subs.join(broadcast(cb), col("sub") === col("csub"))
      .select(col("vec_id"), col("sub"), col("c_id"), dot(diff, diff).as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("c_id"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.c_id").as("code"), col("best.d2").as("d2"))
    (cb, codes)
  }

  /** The shared IVF+PQ probe chain: per query, ADC-scored candidates from
    * the query's IVF cell, top-`IvfpqTier` kept by approximate distance,
    * then exact cosine re-rank. Returns the re-ranked frame BEFORE the
    * final top-5 cut so both the probe query and its recall eval derive
    * from one definition. Columns: q_id, vec_id, adc (deterministic
    * sub-ordered fold), sim (exact), rnk (exact-cosine rank within the
    * tier). */
  private def ivfpqReranked(s: SparkSession, dir: String): DataFrame = {
    val assigned = cells(s, dir) // readers: codes, codebook, query set, re-rank
    val (cb, codes) = pqEncode(assigned)
    val qs = querySet(assigned)
    // ADC distance table: one row per (query, subspace, centroid) — the
    // tiny lookup table ADC scoring exists for (|q|·m·k rows, broadcast)
    val qdiff = zip_with(
      slice(col("qv"), col("csub") * PqD + 1, lit(PqD)), col("cv"),
      (x, y) => x - y)
    val dt = qs.crossJoin(broadcast(cb))
      .select(col("q_id").as("t_qid"), col("csub").as("t_sub"),
        col("c_id").as("t_cid"), dot(qdiff, qdiff).as("d2"))
    // candidates = the query's IVF cell; ADC = sum over subspaces of the
    // table entry for the candidate's code, summed in SUB ORDER so the
    // double is deterministic and the DuckDB oracle reproduces it bitwise
    val cellCodes = codes.select(col("vec_id"), col("sub"), col("code"))
      .join(assigned.select(col("vec_id"), col("c_label")), "vec_id")
      .join(broadcast(qs.select(col("q_id"), col("q_cell"))),
        col("c_label") === col("q_cell") && col("vec_id") =!= col("q_id"))
    val adc = cellCodes
      .join(broadcast(dt),
        col("t_qid") === col("q_id") && col("t_sub") === col("sub") &&
          col("t_cid") === col("code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(foldSum(collectOrdered(col("sub"), col("d2"))).as("adc"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val tiered = adc.withColumn("tr", row_number().over(wAdc))
      .filter(col("tr") <= IvfpqTier)
      .select(col("q_id").as("t_qid2"), col("vec_id").as("t_vid"), col("adc"))
    // exact re-rank of the tier only: |q|·tier cosine evaluations total
    ranked(tiered
      .join(assigned, col("t_vid") === col("vec_id"))
      .join(broadcast(qs), col("t_qid2") === col("q_id"))
      .select(col("q_id"), col("vec_id"), col("adc"),
        cosineSim(col("v"), col("qv")).as("sim")))
  }

  val queries: Map[String, Q] = Map(
    "x_ann_ivfpq" -> xAnnIvfpq,
    "x_ann_ivfpq_recall" -> xAnnIvfpqRecall,
    "x_embed_quantize" -> xEmbedQuantize,
    "x_pq_codes" -> xPqCodes,
    "x_ann_cosine_topk" -> xAnnCosineTopk,
    "x_ann_cosine_fused" -> xAnnCosineFused,
    "x_embedding_neardup" -> xEmbeddingNeardup,
    "x_knn_graph" -> xKnnGraph,
    "x_label_centroids" -> xLabelCentroids,
    "x_embedding_drift" -> xEmbeddingDrift,
    "x_ivf_assign" -> xIvfAssign,
    "x_semdedup" -> xSemdedup,
    "x_ann_ivf_topk" -> xAnnIvfTopk,
    "x_ann_recall" -> xAnnRecall,
    "x_ann_lsh_buckets" -> xAnnLshBuckets,
    "x_kmeans_step" -> xKmeansStep,
    "x_embed_project" -> xEmbedProject
  )

  // ---- constants fixed by the oracles -----------------------------------
  // The oracle SQL below writes each of these values out literally, so a
  // different value here would move the Spark side away from its oracle.

  // The top-k family's query set is `vec_id < NQueries`; each query keeps
  // its `TopK` best neighbors.
  private final val NQueries = 10
  private final val TopK = 5
  // The md5 hyperplanes: `Planes` planes over `Dims` dimensions, split into
  // `Bands` LSH bands of `RowsPerBand` sign bits (band0/band1 of the
  // near-dup and k-NN oracles).
  private final val Planes = 8
  private final val Dims = 64
  private final val Bands = 2
  private final val RowsPerBand = 4
  private final val NeardupThreshold = 0.45
  private final val KnnK = 3
  // The drift fixture's rendered shift: +DriftShift on the first
  // `DriftShiftDims` dimensions; the flag fires above half of it.
  private final val DriftShiftDims = 4
  private final val DriftShift = 0.2
  private final val SemdedupThreshold = 0.45
  private final val KmeansK = 8
  // Product quantization: `PqM` subvectors of `PqD` dims, a codebook of
  // `PqK` entries per subspace; the IVF+PQ probe re-ranks its `IvfpqTier`
  // best ADC candidates exactly.
  private final val PqM = 8
  private final val PqD = 8
  private final val PqK = 8
  private final val IvfpqTier = 10

  /** Shared CTE chain for the IVF+PQ oracles: assignment (the
    * x_ann_ivf_topk chain) + PQ codebook/codes (the x_pq_codes chain) +
    * ADC table + sub-ordered ADC fold + tier + exact re-rank. Ends with
    * `r` = (q_id, vec_id, adc, sim, rnk). */
  private val IvfpqChainSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE embedding IS NOT NULL
      |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |ed AS (SELECT label, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
      |cm AS (SELECT label, dim, avg(x) AS mx FROM ed GROUP BY 1,2),
      |c AS (SELECT label AS c_label, list(mx ORDER BY dim) AS cv FROM cm GROUP BY 1),
      |pa AS (SELECT vec_id, v, c_label,
      |  list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
      |  FROM e, c),
      |a AS (SELECT vec_id, v, c_label FROM (SELECT vec_id, v, c_label,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM pa)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, c_label AS q_cell FROM a WHERE vec_id < 10),
      |s8 AS (SELECT vec_id, j AS sub, v[j*8+1 : j*8+8] AS sv
      |  FROM a, unnest(range(0, 8)) AS u(j)),
      |cb AS (SELECT sub AS csub, vec_id AS c_id, sv AS cv FROM s8 WHERE vec_id < 8),
      |pc AS (SELECT s8.vec_id, s8.sub, cb.c_id,
      |  list_dot_product(list_transform(range(1, 9), i -> s8.sv[i] - cb.cv[i]),
      |                   list_transform(range(1, 9), i -> s8.sv[i] - cb.cv[i])) AS d2
      |  FROM s8 JOIN cb ON s8.sub = cb.csub),
      |codes AS (SELECT vec_id, sub, c_id AS code FROM (
      |  SELECT vec_id, sub, c_id,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_id) AS rn
      |  FROM pc) WHERE rn = 1),
      |dtab AS (SELECT q_id, csub AS sub, c_id,
      |  list_dot_product(list_transform(range(1, 9), i -> qv[csub*8+i] - cv[i]),
      |                   list_transform(range(1, 9), i -> qv[csub*8+i] - cv[i])) AS d2
      |  FROM q, cb),
      |cand AS (SELECT q.q_id AS q_id, a.vec_id AS vec_id, codes.sub, codes.code
      |  FROM a JOIN q ON a.c_label = q.q_cell AND a.vec_id <> q.q_id
      |  JOIN codes ON codes.vec_id = a.vec_id),
      |adc AS (SELECT cand.q_id, cand.vec_id,
      |  list_sum(list(dtab.d2 ORDER BY cand.sub)) AS adc
      |  FROM cand JOIN dtab ON dtab.q_id = cand.q_id AND dtab.sub = cand.sub
      |    AND dtab.c_id = cand.code
      |  GROUP BY 1, 2),
      |tier AS (SELECT q_id, vec_id, adc FROM (
      |  SELECT q_id, vec_id, adc,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS tr
      |  FROM adc) WHERE tr <= 10),
      |rr AS (SELECT tier.q_id, tier.vec_id, tier.adc,
      |  list_dot_product(a.v, q.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
      |  FROM tier JOIN a ON a.vec_id = tier.vec_id JOIN q ON q.q_id = tier.q_id),
      |r AS (SELECT q_id, vec_id, adc, sim,
      |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      |  FROM rr)""".stripMargin

  val oracles: Map[String, String] = Map(
    "x_ann_ivfpq" ->
      (IvfpqChainSql + "\n" +
        """SELECT q_id, rnk, vec_id, round(sim, 6) AS cosine,
          |round(adc, 6) AS adc_d2
          |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
    "x_ann_ivfpq_recall" ->
      (IvfpqChainSql + ",\n" +
        """p5 AS (SELECT q_id, vec_id FROM r WHERE rnk <= 5),
          |nex AS (SELECT q_id, count(*) AS n_exact FROM rr GROUP BY 1),
          |sce AS (SELECT q_id, e.vec_id,
          |  list_dot_product(e.v, qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv, qv))) AS sim
          |  FROM e, q WHERE e.vec_id <> q_id),
          |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
          |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM sce)
          |  WHERE rnk <= 5)
          |SELECT ex.q_id, CAST(min(nex.n_exact) AS BIGINT) AS n_exact,
          |CAST(count(p5.vec_id) AS BIGINT) AS n_hits,
          |round(count(p5.vec_id) / 5.0 + 1e-9, 6) AS recall_at_5
          |FROM ex JOIN nex ON nex.q_id = ex.q_id
          |LEFT JOIN p5 ON p5.q_id = ex.q_id AND p5.vec_id = ex.vec_id
          |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin),
    "x_pq_codes" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |s AS (SELECT vec_id, j AS sub, v[j*8+1 : j*8+8] AS sv
        |  FROM e, unnest(range(0, 8)) AS u(j)),
        |c AS (SELECT sub AS csub, vec_id AS c_id, sv AS cv FROM s WHERE vec_id < 8),
        |p AS (SELECT s.vec_id, s.sub, c.c_id,
        |  list_dot_product(list_transform(range(1, 9), i -> s.sv[i] - c.cv[i]),
        |                   list_transform(range(1, 9), i -> s.sv[i] - c.cv[i])) AS d2
        |  FROM s JOIN c ON s.sub = c.csub),
        |b AS (SELECT vec_id, sub, c_id AS code, d2 FROM (
        |  SELECT vec_id, sub, c_id, d2,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_id) AS rn
        |  FROM p) WHERE rn = 1)
        |SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY sub) AS codes,
        |round(list_sum(list(d2 ORDER BY sub)), 6) AS recon_err
        |FROM b GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "x_embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |ed AS (SELECT unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ed GROUP BY 1),
        |g AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM st)
        |SELECT vec_id,
        |array_to_string(list_transform(range(1, len(v) + 1), i ->
        |  CAST(CASE WHEN maxs[i] = mins[i] THEN 0
        |    ELSE CAST(floor((v[i] - mins[i]) / (maxs[i] - mins[i]) * 255 + 0.5) AS BIGINT)
        |  END AS VARCHAR)), ',') AS codes
        |FROM e, g ORDER BY vec_id""".stripMargin,
    "x_ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |p AS (SELECT q_id, vec_id,
        |  list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM p)
        |SELECT q_id, rnk, vec_id, round(sim, 6) AS cosine
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // Mirrors the banded LSH exactly: plane component (p, i) is +1 iff the
    // first 16 bits of md5("p#i") are even (= 4th hex char parity); bands are
    // 4-bit slices of the 8-bit signature; candidates share a full band.
    "x_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |pl AS (SELECT p, list_transform(range(0, 64), i ->
        |  CASE WHEN (strpos('0123456789abcdef', substring(md5(p || '#' || i), 4, 1)) - 1) % 2 = 0
        |       THEN 1.0 ELSE -1.0 END) AS plane FROM range(0, 8) t(p)),
        |bits AS (SELECT vec_id, p,
        |  CASE WHEN list_dot_product(v, plane) >= 0 THEN '1' ELSE '0' END AS bit
        |  FROM e, pl),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS s FROM bits GROUP BY 1),
        |bnd AS (SELECT vec_id, substring(s, 1, 4) AS band0, substring(s, 5, 4) AS band1 FROM sig),
        |cand AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM bnd a
        |    JOIN bnd b ON a.band0 = b.band0 AND a.vec_id < b.vec_id
        |  UNION
        |  SELECT a.vec_id, b.vec_id FROM bnd a
        |    JOIN bnd b ON a.band1 = b.band1 AND a.vec_id < b.vec_id),
        |p AS (SELECT vec_a, vec_b,
        |  list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS sim
        |  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |SELECT vec_a, vec_b, round(sim, 6) AS cosine
        |FROM p WHERE sim >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,
    "x_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |pl AS (SELECT p, list_transform(range(0, 64), i ->
        |  CASE WHEN (strpos('0123456789abcdef', substring(md5(p || '#' || i), 4, 1)) - 1) % 2 = 0
        |       THEN 1.0 ELSE -1.0 END) AS plane FROM range(0, 8) t(p)),
        |bits AS (SELECT vec_id, p,
        |  CASE WHEN list_dot_product(v, plane) >= 0 THEN '1' ELSE '0' END AS bit
        |  FROM e, pl),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS s FROM bits GROUP BY 1),
        |bnd AS (SELECT vec_id, substring(s, 1, 4) AS band0, substring(s, 5, 4) AS band1 FROM sig),
        |cand AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr FROM bnd a
        |    JOIN bnd b ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
        |  UNION
        |  SELECT a.vec_id, b.vec_id FROM bnd a
        |    JOIN bnd b ON a.band1 = b.band1 AND a.vec_id <> b.vec_id),
        |p AS (SELECT cand.vec_id AS vec_id, nbr,
        |  list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS sim
        |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr),
        |r AS (SELECT vec_id, nbr, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rk FROM p)
        |SELECT vec_id, rk, nbr, round(sim, 6) AS cosine
        |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    "x_embedding_drift" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |dr AS (SELECT unnest(v) AS x, unnest(range(len(v))) AS dim FROM e
        |  WHERE vec_id % 2 = 0),
        |dc0 AS (SELECT unnest(v) AS x, unnest(range(len(v))) AS dim FROM e
        |  WHERE vec_id % 2 = 1),
        |dc AS (SELECT dim, x + CASE WHEN dim < 4 THEN 0.2 ELSE 0 END AS x
        |  FROM dc0),
        |a AS (SELECT dim, avg(x) AS m_a, count(*) AS n_a FROM dr GROUP BY 1),
        |b AS (SELECT dim, avg(x) AS m_b, count(*) AS n_b FROM dc GROUP BY 1)
        |SELECT CAST(a.dim AS INTEGER) AS dim, a.n_a, b.n_b,
        |round(a.m_a, 6) + 0 AS mean_ref, round(b.m_b, 6) + 0 AS mean_cand,
        |round(b.m_b - a.m_a, 4) + 0 AS d_mean,
        |abs(round(b.m_b - a.m_a, 4)) > 0.1 AS drifted
        |FROM a JOIN b USING (dim) ORDER BY dim""".stripMargin,
    "x_label_centroids" ->
      """SELECT label, dim, round(avg(x), 6) AS mean_x, count(*) AS n
        |FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |  unnest(range(len(embedding))) AS dim FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "x_semdedup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |ed AS (SELECT label, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        |cm AS (SELECT label, dim, avg(x) AS mx FROM ed GROUP BY 1,2),
        |c AS (SELECT label AS c_label, list(mx ORDER BY dim) AS cv FROM cm GROUP BY 1),
        |p AS (SELECT vec_id, v, c_label,
        |  list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM e, c),
        |a AS (SELECT vec_id, v, c_label FROM (SELECT vec_id, v, c_label,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM p)
        |  WHERE rn = 1),
        |tw AS (SELECT x.vec_id, count(*) AS n_twins FROM a x JOIN a y
        |  ON x.c_label = y.c_label AND y.vec_id < x.vec_id
        |  WHERE list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) > 0.45
        |  GROUP BY 1)
        |SELECT a.vec_id, c_label AS cell, CAST(COALESCE(n_twins, 0) AS BIGINT) AS n_twins,
        |CASE WHEN n_twins IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict
        |FROM a LEFT JOIN tw USING (vec_id) ORDER BY vec_id""".stripMargin,
    "x_ivf_assign" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |ed AS (SELECT label, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        |cm AS (SELECT label, dim, avg(x) AS mx FROM ed GROUP BY 1,2),
        |c AS (SELECT label AS c_label, list(mx ORDER BY dim) AS cv FROM cm GROUP BY 1),
        |p AS (SELECT vec_id, e.label, c_label,
        |  list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM e, c),
        |r AS (SELECT vec_id, label, c_label, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM p)
        |SELECT vec_id, label, c_label AS assigned_label, round(sim, 6) AS sim
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // Same assignment chain; probe = in-cell equi-join + per-query top-5.
    "x_ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |ed AS (SELECT label, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        |cm AS (SELECT label, dim, avg(x) AS mx FROM ed GROUP BY 1,2),
        |c AS (SELECT label AS c_label, list(mx ORDER BY dim) AS cv FROM cm GROUP BY 1),
        |p AS (SELECT vec_id, v, c_label,
        |  list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM e, c),
        |a AS (SELECT vec_id, v, c_label FROM (SELECT vec_id, v, c_label,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM p)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, c_label AS q_cell FROM a WHERE vec_id < 10),
        |sc AS (SELECT q_id, a.vec_id,
        |  list_dot_product(a.v, qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |  FROM a JOIN q ON a.c_label = q_cell AND a.vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM sc)
        |SELECT q_id, rnk, vec_id, round(sim, 6) AS cosine
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // Same assignment chain as x_ann_ivf_topk; exact arm scores all pairs,
    // probe arm only in-cell; recall joins the two top-5 id sets.
    "x_ann_recall" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |ed AS (SELECT label, unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
        |cm AS (SELECT label, dim, avg(x) AS mx FROM ed GROUP BY 1,2),
        |c AS (SELECT label AS c_label, list(mx ORDER BY dim) AS cv FROM cm GROUP BY 1),
        |p AS (SELECT vec_id, v, c_label,
        |  list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM e, c),
        |a AS (SELECT vec_id, v, c_label FROM (SELECT vec_id, v, c_label,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM p)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, c_label AS q_cell FROM a WHERE vec_id < 10),
        |sce AS (SELECT q_id, a.vec_id,
        |  list_dot_product(a.v, qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |  FROM a, q WHERE a.vec_id <> q_id),
        |ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM sce)
        |  WHERE rnk <= 5),
        |scp AS (SELECT q_id, a.vec_id,
        |  list_dot_product(a.v, qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS sim
        |  FROM a JOIN q ON a.c_label = q_cell AND a.vec_id <> q_id),
        |ap AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM scp)
        |  WHERE rnk <= 5),
        |cs AS (SELECT c_label, count(*) AS n FROM a GROUP BY 1)
        |SELECT ex.q_id, CAST(min(cs.n) - 1 AS BIGINT) AS n_cand,
        |CAST(count(ap.vec_id) AS BIGINT) AS n_hits,
        |round(count(ap.vec_id) / 5.0 + 1e-9, 6) AS recall_at_5
        |FROM ex JOIN q ON q.q_id = ex.q_id JOIN cs ON cs.c_label = q.q_cell
        |LEFT JOIN ap ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
        |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin,
    // Deterministic Lloyd step: init centroid c = vector c; squared-L2 via
    // list_dot_product on the element-wise difference (same fold order as
    // Spark's zip_with+aggregate); argmin tie-broken by centroid id.
    "x_kmeans_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
        |p AS (SELECT vec_id, v, c_id,
        |  list_dot_product(list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]),
        |                   list_transform(range(1, len(v) + 1), i -> v[i] - cv[i])) AS d2
        |  FROM e, c),
        |a AS (SELECT vec_id, v, c_id FROM (SELECT vec_id, v, c_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn FROM p)
        |  WHERE rn = 1)
        |SELECT c_id, dim, round(avg(x), 6) AS mean_x, count(*) AS n
        |FROM (SELECT c_id, unnest(v) AS x, unnest(range(len(v))) AS dim FROM a)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same md5-parity planes as the LSH bucket oracle; coordinates kept as
    // reals.
    "x_embed_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |pl AS (SELECT p, list_transform(range(0, 64), i ->
        |  CASE WHEN (strpos('0123456789abcdef', substring(md5(p || '#' || i), 4, 1)) - 1) % 2 = 0
        |       THEN 1.0 ELSE -1.0 END) AS plane FROM range(0, 8) t(p)),
        |pr AS (SELECT vec_id, p, round(list_dot_product(v, plane), 6) AS x FROM e, pl)
        |SELECT vec_id,
        |max(CASE WHEN p = 0 THEN x END) AS p0, max(CASE WHEN p = 1 THEN x END) AS p1,
        |max(CASE WHEN p = 2 THEN x END) AS p2, max(CASE WHEN p = 3 THEN x END) AS p3,
        |max(CASE WHEN p = 4 THEN x END) AS p4, max(CASE WHEN p = 5 THEN x END) AS p5,
        |max(CASE WHEN p = 6 THEN x END) AS p6, max(CASE WHEN p = 7 THEN x END) AS p7
        |FROM pr GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Same plane construction as x_embedding_neardup's oracle, full 8-bit
    // signature, aggregated per bucket.
    "x_ann_lsh_buckets" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |pl AS (SELECT p, list_transform(range(0, 64), i ->
        |  CASE WHEN (strpos('0123456789abcdef', substring(md5(p || '#' || i), 4, 1)) - 1) % 2 = 0
        |       THEN 1.0 ELSE -1.0 END) AS plane FROM range(0, 8) t(p)),
        |bits AS (SELECT vec_id, p,
        |  CASE WHEN list_dot_product(v, plane) >= 0 THEN '1' ELSE '0' END AS bit
        |  FROM e, pl),
        |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY 1)
        |SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
        |FROM sig GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** The fused expression is bit-identical to the HOF formulation, so it
    * shares the brute-force oracle. */
  def fusedOracle: (String, String) =
    "x_ann_cosine_fused" -> oracles("x_ann_cosine_topk")
}
