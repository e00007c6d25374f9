package graft.ext

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.3): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Designed shuffle-light for 100 TB:
  *
  *  - exact dedup groups on a 128-bit content hash, never on the document
  *    body (the shuffle carries 16 bytes + ids, not text);
  *  - MinHash signatures are computed map-side from shingles; the LSH
  *    band-join shuffles only `(band_signature, doc_id, token_set)` and the
  *    quadratic Jaccard work happens strictly within a band bucket;
  *  - SimHash is a 64-bit fingerprint foldable into a band join the same way.
  *
  * All hashing is md5-based so the DuckDB oracle can reproduce it
  * byte-for-byte (murmur/xxhash would be faster but unverifiable).
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** 3-word shingles of a whitespace-tokenized text (1-based indexing).
    * Docs under 3 tokens yield one partial shingle: `try_element_at`
    * returns NULL past the end (plain `element_at` THROWS under ANSI mode,
    * which took the whole shingle family down on any corpus with a 1- or
    * 2-token doc) and `concat_ws` skips NULLs — mirrored exactly by the
    * DuckDB oracles' `concat_ws(' ', toks[i], toks[i+1], toks[i+2])`,
    * whose out-of-range list index is NULL. */
  def shingles(toks: Column): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", element_at(toks, i),
        try_element_at(toks, i + 1), try_element_at(toks, i + 2)))

  /** Jaccard similarity of two (multi)sets, on distinct elements. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(array_distinct(a), array_distinct(b))).cast("double") /
      size(array_union(a, b))

  /** Per-doc band signatures (`doc_id, n_sh, b0..`), computed in one
    * narrow map with no Exchange: [[Grams.bandMins]] takes the md5-chunk
    * minima per doc inside the scan task, and `n_sh` is the doc's distinct
    * shingle count. Band i is the minimum over the doc's distinct shingles
    * of hex chunk i % 4 of md5(salt || shingle), the salt being "" for
    * bands 0-3, then "1", "2": the arithmetic the DuckDB oracles replay
    * (GramsSpec pins it against that SQL on every corpus doc). */
  private[ext] def docSignatures(s: SparkSession, dir: String,
                            bands: Int): DataFrame = {
    require(bands >= 1 && bands <= 12, s"bands=$bands outside 1..12")
    import s.implicits._
    val nb = bands
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val sh = Grams.distinct(text.split(" ", -1), 3)
          Iterator.single((id, sh.length.toLong, Grams.bandMins(sh, nb)))
        }
      }
      .toDF("doc_id", "n_sh", "mins")
      .select(col("doc_id") +: col("n_sh") +:
        (0 until bands).map(i => col("mins")(i).as(s"b$i")): _*)
  }

  /** Shingle-set intersection counts for a candidate-pair set (`doc_a,
    * doc_b, n_a, n_b`): re-shingle ONLY the documents that survived
    * candidate generation (a broadcast semi-join prunes the corpus scan
    * before any shingling), then count intersections with an explode-join:
    * (pair ⋈ shingles-of-a) ⋈ shingles-of-b on (doc, shingle), then a count
    * per pair. All codegen'd hash joins, with no per-pair hash set the way
    * `array_intersect` builds one. Candidate counts are sub-linear in corpus
    * size by LSH design, so the work is O(|pairs| · |doc|) rows and the full
    * corpus never ships shingle sets through a shuffle. Returns the pairs
    * with `ni` (intersection size, double); Jaccard and containment are one
    * arithmetic step away. */
  private def scoreIntersections(s: SparkSession, dir: String,
                                 pairs: DataFrame): DataFrame = {
    val involved = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // Materialized once: referenced as both join sides below, and shingling
    // is the expensive part (string building over every involved doc) —
    // without this it would run twice. Size is O(candidate docs), not corpus.
    // At sf0.1, dropping it costs +0.4 s on x_minhash_pairs and +2.2 s on
    // x_dup_clusters (which replays the whole pipeline).
    val docShingles = Grams.shingleRows(
      Tables.load(s, dir, "documents")
        .join(broadcast(involved), "doc_id")) // prune BEFORE shingling
      .localCheckpoint()
    val inter = pairs
      .join(docShingles.as("ra"), col("doc_a") === col("ra.doc_id"))
      .join(docShingles.as("rb"),
        col("doc_b") === col("rb.doc_id") &&
          col("ra.shingle") === col("rb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left") // disjoint pairs → 0
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)).cast("double"))
  }

  private def scoreExactJaccard(s: SparkSession, dir: String,
                                pairs: DataFrame): DataFrame =
    scoreIntersections(s, dir, pairs)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni") / (col("n_a") + col("n_b") - col("ni")), 4)
          .as("jaccard"))

  /** LSH candidate pairs (`doc_a < doc_b` with their distinct-shingle
    * counts `n_a, n_b`) for docs that agree on all `bands` minhash bands.
    * Candidate generation is an equi-join on the band signature, so the
    * shuffle carries ids and set sizes only, never shingle arrays, and the
    * quadratic work stays inside a bucket. */
  private def lshCandidates(s: SparkSession, dir: String,
                            bands: Int): DataFrame = {
    val bandCols = (0 until bands).map(i => col(s"b$i"))
    val sig = docSignatures(s, dir, bands)
      // explicit exchange, reused across both self-join branches; at sf0.1
      // removing it costs +1.1 s (pairs) / +2.0 s (clusters)
      .repartition(bandCols: _*)
    val cond = (0 until bands)
      .map(i => col(s"a.b$i") === col(s"b.b$i"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    // Materialize the candidate set once: it is tiny (sub-linear in corpus
    // pairs by LSH design) but referenced three times by the scorer, and
    // without this the signature map and self-join would replay per
    // reference.
    sig.as("a").join(sig.as("b"), cond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .localCheckpoint()
  }

  private def lshPairs(s: SparkSession, dir: String, bands: Int): DataFrame =
    scoreExactJaccard(s, dir, lshCandidates(s, dir, bands))

  // ---- queries ----------------------------------------------------------

  /** Exact dedup via content hash: keeper = min doc id per fingerprint. */
  def xDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
      .orderBy("fp")

  /** Incremental-ingestion dedup — the production shape at 100 TB: a NEW
    * batch is checked against the EXISTING corpus, never corpus-vs-corpus.
    * Exact layer: equi-join on the 16-byte content hash. Near layer: the
    * batch's band signatures equi-join the corpus signature index
    * (sub-linear candidates by LSH design), survivors scored by exact
    * shingle Jaccard through the explode-join scorer. In production the
    * corpus side (hashes + signatures) is a persisted index; each ingest
    * shuffles only its own sketches against it — here both sides derive
    * from one table with a deterministic doc_id%5 batch split so the
    * DuckDB oracle can replay the whole decision. Per new doc: how many
    * exact copies and near-dups the corpus already holds, and the verdict
    * an ingest pipeline acts on. */
  def xDedupIncremental(s: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val isNew = (col("doc_id") % 5) === 0
    // Both small frames feed multiple joins (hashed 3x: exact-join sides +
    // the new-doc spine; sig 2x: both candidate-join sides) — materialize
    // once so the corpus scan + md5 / shingle-signature build doesn't
    // replay per reference (the lshPairs idiom).
    val hashed = Tables.load(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint()
    val exact = hashed.filter(isNew).as("n")
      .join(hashed.filter(!isNew).select(col("fp"), col("doc_id").as("cid")),
        "fp")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    val sig = docSignatures(s, dir, bands = 1).localCheckpoint()
    val cand = sig.filter(isNew).as("a")
      .join(sig.filter(!isNew).as("b"), col("a.b0") === col("b.b0"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .localCheckpoint() // scorer references it three times
    val near = scoreExactJaccard(s, dir, cand)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    hashed.filter(isNew).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("n_exact") > 0, "exact")
          .when(col("n_near") > 0, "near")
          .otherwise("unique").as("status"))
      .orderBy("doc_id")
  }

  /** Per-doc MinHash signature (4 bands) — the sketch that downstream LSH
    * passes shuffle instead of text. */
  def xMinhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val m = Grams.bandMins(Grams.distinct(text.split(" ", -1), 3), 4)
          Iterator.single((id, m(0), m(1), m(2), m(3)))
        }
      }
      .toDF("doc_id", "sig0", "sig1", "sig2", "sig3")
      .orderBy("doc_id")
  }

  /** MinHash-LSH near-dup candidates: docs sharing the band-0 min-shingle
    * hash, scored with n-gram (shingle-set) Jaccard. The self-join key is the
    * band signature, so candidate generation is an equi-join (one shuffle on
    * a fixed-width key, reused across both branches by ReuseExchange) and
    * the O(bucket²) comparison never leaves a bucket; exact scoring then
    * re-shingles only the docs present in a candidate pair
    * ([[scoreExactJaccard]]). */
  def xMinhashPairs(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir, bands = 1).orderBy("doc_a", "doc_b")

  /** Scored LSH pairs without the presentation sort — consumers that
    * aggregate or iterate (e.g. [[Curation.xDupClusters]]) should not pay
    * for an ordering they immediately destroy. */
  def minhashPairsUnordered(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir, bands = 1)

  /** Threshold-tuning curve over the scored LSH pairs: pair counts per
    * 0.1-wide Jaccard bin plus the running "pairs at or above" total — the
    * frame a dedup operator reads to PICK the near-dup threshold (how many
    * merges does 0.8 vs 0.6 buy, and where does the tail explode). Bin
    * edges use the `+1e-9` idiom so 0.7 lands in bin 7 on both engines
    * despite IEEE `0.7*10 = 6.999…`.
    *
    * Scale shape: the pair stream reduces to ≤11 bins in one
    * map-side-combinable aggregate; the cumulative window runs on that
    * 11-row frame (the bounded exception). */
  def xDedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = minhashPairsUnordered(s, dir)
      .groupBy(floor(col("jaccard") * 10 + lit(1e-9)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("n_at_or_above", sum("n_pairs").over(w))
      .select(col("bin"), round(col("bin") / 10.0 + lit(1e-9), 1).as("threshold"),
        col("n_pairs"), col("n_at_or_above"))
      .orderBy("bin")
  }

  /** SimHash sign sums: per token a 64-bit hash (`tokenHash`, an
    * expression over the token column `tok`); per bit position sum ±1 over
    * the document's tokens. Returns `(doc_id, b0..b63)` with b0 the MSB;
    * the sign of each sum is a fingerprint bit, and near-dups have small
    * Hamming distance. One explode + one aggregate — the shuffle carries
    * (doc_id, 64 small ints). */
  private def simhashSignSums(s: SparkSession, dir: String,
                              tokenHash: Column): DataFrame = {
    val bitCols = (0 until 64).map { i =>
      val bit = shiftright(tokenHash, 63 - i).bitwiseAND(1)
      sum(when(bit === 1, 1).otherwise(-1)).as(s"b$i")
    }
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(bitCols.head, bitCols.tail: _*)
  }

  /** The production token hash: xxhash64, one codegen'd hash per token —
    * an order of magnitude cheaper than md5 hex-string slicing. DuckDB has
    * no xxhash64, so no oracle checks the values of its queries. */
  private def xxhashToken: Column = xxhash64(col("tok"))

  /** The oracle twin's token hash: the first 16 hex nibbles of md5(token) —
    * the md5-parity trick that oracle-ized the hyperplane LSH
    * ([[Similarity.planeSign]]) — so DuckDB reproduces the whole SimHash
    * construction bit-for-bit and the oracle checks it. Built from TWO
    * 8-hex-char conv()s instead of 16 per-nibble extractions: hi fits 32
    * bits and shiftleft keeps exactly the low 64, so the bit pattern equals
    * the nibble-by-nibble construction the DuckDB oracle uses, with ~8x
    * fewer string ops per token. */
  private def md5Token: Column = {
    val h = md5(col("tok"))
    val hi = conv(substring(h, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(h, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Per-doc 64-bit SimHash fingerprint as a long (`fp`). */
  private def simhashFingerprints(s: SparkSession, dir: String,
                                  tokenHash: Column): DataFrame =
    simhashSignSums(s, dir, tokenHash)
      .select(col("doc_id"), signBitsToLong.as("fp"))

  /** Packs the 64 per-bit sign sums (`b0`..`b63`, b0 = MSB) into one long
    * fingerprint: bit i set iff the sign sum is positive. */
  private def signBitsToLong: Column = (0 until 64)
    .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), 63 - i))
      .otherwise(lit(0L)))
    .reduce(_ + _)

  /** SimHash fingerprint of every document, emitted as 16 hex chars. */
  def xSimhash(s: SparkSession, dir: String): DataFrame =
    simhashFingerprints(s, dir, xxhashToken)
      .select(col("doc_id"),
        lower(lpad(hex(col("fp")), 16, "0")).as("simhash_hex"))
      .orderBy("doc_id")

  /** Four 16-bit-band self-joins over a `(doc_id, fp: long)` fingerprint
    * frame, Hamming-scored with one `bit_count(xor)` per candidate (on
    * hex strings the score would cost 16 nibble conv/strpos per candidate
    * of the in-bucket quadratic). */
  private def simhashBandPairs(fps: DataFrame, maxHamming: Int): DataFrame = {
    val withBands = fps.select(
      col("doc_id") +: col("fp") +:
        (0 until 4).map(b => shiftright(col("fp"), 16 * b)
          .bitwiseAND(lit(0xffffL)).as(s"band$b")): _*)
    (0 until 4).map { b =>
      withBands.as("a").join(withBands.as("b"),
        col(s"a.band$b") === col(s"b.band$b") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
    }.reduce(_ unionByName _)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairing: candidates share at least one of four 16-bit
    * bands of the fingerprint (pigeonhole: any pair within Hamming distance
    * 3 shares a band; wider distances are caught probabilistically), scored
    * by exact Hamming distance via `bit_count(xor)`. Four equi-joins on a
    * 16-bit key — the 64-bit-fingerprint twin of the MinHash band join, and
    * the cheapest near-dup pass at 100 TB (the shuffle carries 16 bytes per
    * doc). Properties pinned in ExtSpec. */
  def xSimhashPairs(s: SparkSession, dir: String,
                    maxHamming: Int = 16): DataFrame = {
    // 16 bytes per doc — materialize once. Without the checkpoint the
    // fingerprint aggregate's final merge re-runs in each band branch:
    // 6.1 s against 2.9 s at sf0.1.
    val fps = simhashFingerprints(s, dir, xxhashToken).localCheckpoint()
    simhashBandPairs(fps, maxHamming)
  }

  /** 16-hex-char fingerprint assembled nibble-by-nibble from the b0..b63 sign
    * sums — avoids 64-bit signed arithmetic entirely (DuckDB checks BIGINT
    * overflow; a 2^63 bit weight would trap there). */
  private def md5FingerprintHex: Column = (0 until 16).map { j =>
    val v = (0 until 4).map(k =>
      when(col(s"b${4 * j + k}") > 0, lit(8 >> k)).otherwise(lit(0)))
      .reduce(_ + _)
    lower(hex(v))
  }.reduce(concat(_, _))

  /** Oracle twin of [[xSimhash]] over the [[md5Token]] hash. */
  def xSimhashMd5(s: SparkSession, dir: String): DataFrame =
    simhashSignSums(s, dir, md5Token)
      .select(col("doc_id"), md5FingerprintHex.as("simhash_hex"))
      .orderBy("doc_id")

  /** Oracle twin of [[xSimhashPairs]] over the md5-derived fingerprint:
    * identical four-band join + `bit_count(xor)` scoring on a packed long
    * (the DuckDB side still computes Hamming nibble-by-nibble on hex — the
    * BITS are the same, so the outputs hash-match; only Spark's evaluation
    * strategy differs). The long cast matches the oracle's BIGINT hamming. */
  def xSimhashPairsMd5(s: SparkSession, dir: String,
                       maxHamming: Int = 16): DataFrame = {
    val fps = simhashFingerprints(s, dir, md5Token)
      .localCheckpoint() // materialized once, as in xSimhashPairs
    simhashBandPairs(fps, maxHamming)
      .withColumn("hamming", col("hamming").cast("bigint"))
  }

  /** Shared doc prep for the exact-jaccard family ([[xJaccardNgram]] and
    * the [[xJaccardRecall]] truth arm): token-split, length-bucketed
    * (`floor(n_tokens / bucketWidth)`), distinct-bigram documents; a doc
    * with fewer than two tokens has no bigram and is left out. The grams
    * come from the typed [[Grams.distinct]] loop, not a `transform`/
    * `sequence` lambda: the interpreted lambda cost 22 s of aggregate
    * compile time in the postings build at sf0.1. */
  private[ext] def bigramDocs(s: SparkSession, dir: String,
                              bucketWidth: Int): DataFrame = {
    import s.implicits._
    val bw = bucketWidth
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lang, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          if (toks.length < 2) Iterator.empty // bigram-less docs can't pair
          else Iterator.single(
            (id, lang, (toks.length / bw).toLong, Grams.distinct(toks, 2)))
        }
      }
      .toDF("doc_id", "lang", "bucket", "bg")
  }

  /** One aggregation builds every (lang, bucket, gram) posting list over
    * [[bigramDocs]] — entries carry (doc_id, n_bg). Collect UNSORTED: only
    * the candidate branch needs order, and sorting there — after the size
    * filter — touches only bounded arrays, never the heaviest lists
    * (review r11); the aggregate body executes once per branch (the
    * exchange is what's reused), so keeping it minimal pays twice. */
  private[ext] def bigramPostings(docs: DataFrame): DataFrame = docs
    .select(col("lang"), col("bucket"),
      explode(col("bg")).as("g"),
      struct(col("doc_id"), size(col("bg")).cast("bigint").as("n_bg"))
        .as("e"))
    .groupBy("lang", "bucket", "g")
    .agg(collect_list(col("e")).as("entries"))

  /** Posting lists longer than this expand as chunk PAIRS behind their own
    * (tiny) exchange instead of one d²/2-row generator call — the
    * VERDICT r16 #3 skew bound. 1024² / 2 ≈ 5·10⁵ rows per generator
    * invocation is the per-task granule; the driver SFs never reach it
    * (max in-block df at sf0.1 = 63), so the chunked arm is exercised by
    * the unit fixture, not the board. */
  private[ext] val PairChunkLen = 1024

  /** `(doc_a, doc_b, n_a, n_b)` of an [[expandSortedPairs]] row over
    * `(doc_id, n_bg)` posting entries. */
  private val entryPair = Seq(col("ea.doc_id").as("doc_a"),
    col("eb.doc_id").as("doc_b"), col("ea.n_bg").as("n_a"),
    col("eb.n_bg").as("n_b"))

  /** In-bucket all-pairs expansion of a sorted, duplicate-free `entries`
    * array: one row `(carry…, ea, eb)` per element pair with `ea` before
    * `eb` in the array, so `ea < eb`. `posexplode` yields (i, ea), then
    * `explode(slice(entries, i+2, n−i−1))` emits exactly the j > i suffix:
    * n(n−1)/2 generated rows, no rank filter, codegen end to end (`Slice`
    * is not CodegenFallback). A `transform` lambda over the array runs
    * interpreted (37 s cold on x_jaccard_ngram at sf0.1), and a double
    * `posexplode` with a `j > i` filter generates n² rows to keep half.
    * Elements are the array's own (structs or bare ids); callers project
    * the fields they need.
    *
    * `maxLen` is the caller's static bound on `size(entries)` (its df cap
    * or ceiling). When it exceeds [[PairChunkLen]], lists past the chunk
    * length take a second branch that splits the list into contiguous
    * chunks, expands (ka ≤ kb) chunk pairs, and REPARTITIONS the chunk-
    * pair rows before the generators, so no single task owns a d²/2
    * expansion (guide §2.5 salting; VERDICT r16 #3 — the truth arm admits
    * lists up to truthDfCeil = 10000, i.e. 5·10⁷ pairs from ONE row of
    * the direct form). Chunks are contiguous slices of a sorted list, so
    * cross-chunk pairs keep doc_a < doc_b for free; the exchange carries
    * only the rare oversized lists' chunk pairs. */
  private[ext] def expandSortedPairs(lists: DataFrame, maxLen: Int,
                                     carry: String*): DataFrame = {
    val c = carry.map(col)
    def upperTriangle(in: DataFrame, arr: String): DataFrame = in
      .select(c ++ Seq(col(arr).as("__t"),
        posexplode(col(arr)).as(Seq("i", "ea"))): _*)
      .select(c ++ Seq(col("ea"),
        explode(slice(col("__t"), col("i") + lit(2),
          greatest(size(col("__t")) - col("i") - lit(1), lit(0))))
          .as("eb")): _*)
    if (maxLen <= PairChunkLen) upperTriangle(lists, "entries")
    else {
      val n = size(col("entries"))
      val kMax = floor((n - lit(1)) / lit(PairChunkLen)).cast("int")
      val direct = upperTriangle(lists.filter(n <= PairChunkLen), "entries")
      val chunkPairs = lists.filter(n > PairChunkLen)
        .select(c ++ Seq(col("entries"),
          explode(sequence(lit(0), kMax)).as("ka")): _*)
        .select(c ++ Seq(col("entries"), col("ka"),
          explode(sequence(col("ka"), kMax)).as("kb")): _*)
        .select(c ++ Seq(col("ka") === col("kb"),
          slice(col("entries"), col("ka") * PairChunkLen + 1,
            lit(PairChunkLen)),
          slice(col("entries"), col("kb") * PairChunkLen + 1,
            lit(PairChunkLen)))
          .zip(Seq("diag", "ca", "cb")).map { case (e, n2) => e.as(n2) }: _*)
        // spread the d²-mass across tasks — the whole point of chunking;
        // only oversized lists' chunk pairs cross this exchange
        .repartition(col("ca"), col("kb"))
      val cross = chunkPairs.filter(!col("diag"))
        .select(c ++ Seq(col("cb"), explode(col("ca")).as("ea")): _*)
        .select(c ++ Seq(col("ea"), explode(col("cb")).as("eb")): _*)
      direct.unionByName(upperTriangle(chunkPairs.filter(col("diag")), "ca"))
        .unionByName(cross)
    }
  }

  /** Recall bar the multiband recommendation column clears — single-
    * sourced between [[xMultibandRecall]]'s `recallBar` default and the
    * DuckDB oracle string, so a default change cannot desynchronize
    * operator and oracle. */
  private[ext] val MultibandRecallBar = 0.95

  /** Serialized storage for corpus-sized shared frames (see the
    * [[xJaccardNgram]] rationale: deserialized gram/shingle arrays are
    * 3-5x larger and squeeze execution memory at scale). */
  private val Ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Cache lifecycle for the eval/jaccard family: the family persists
    * corpus-sized shared frames for the duration of ONE query, so the
    * query must also RELEASE them — a long-lived session
    * (the bench, a multi-tenant cluster app) would otherwise accumulate
    * corpus-sized serialized blocks per call until LRU pressure squeezes
    * every later query. The result is localCheckpoint'ed FIRST (eager —
    * all cache consumers run while the caches are hot; results here are
    * pair/grid frames, orders of magnitude smaller than the corpus), then
    * every cache is dropped through the Dataset API so the CacheManager
    * entry goes with the blocks (a bare RDD unpersist leaves the entry
    * behind and turns the session's next same-plan persist into a silent
    * no-op). PlanSpec pins: cacheManager.isEmpty after each family query. */
  private def releaseAfter(caches: DataFrame*)(result: DataFrame): DataFrame =
    try result.localCheckpoint()
    finally caches.foreach(_.unpersist(blocking = false))

  /** Exact token-bigram Jaccard with deterministic blocking — the
    * non-probabilistic member of the near-dup family: candidates are pairs
    * in the same (lang, token-count-bucket) block, and every candidate gets
    * its true bigram-set Jaccard (no MinHash estimation, no LSH recall loss
    * within a block). Near-dups that straddle a bucket boundary are missed
    * by construction (mirrored exactly by the oracle); widen buckets or
    * overlap them for recall.
    *
    * Scale shape: the gram index takes the [[xEditPairs]] treatment. ONE
    * aggregation builds the posting list of every (lang, bucket, gram)
    * ([[bigramPostings]]); candidate pairs expand in-bucket from the sorted
    * lists of at most dfCap docs ([[expandSortedPairs]], ≤ dfCap²/2 per
    * gram — linear in corpus size); the exact Jaccard is scored per
    * CANDIDATE from the two full bigram arrays. Because the threshold is
    * > 0, pairs that share no bigram never materialize. The two shapes this
    * avoids are quadratic in bucket population: a self-join of the full
    * gram index adds df²/2 join rows for every bigram common within a
    * bucket (measured 11.6× wall time for 10× data), and per-pair
    * `array_intersect` over every in-bucket pair scored 672k pairs in 92 s
    * at sf0.1. The df cap is a recall knob exactly like the gram cap in
    * [[xEditPairs]]: a pair whose EVERY shared bigram is more common than
    * dfCap in its bucket is missed, and the oracle mirrors the cap
    * exactly. */
  def xJaccardNgram(s: SparkSession, dir: String,
                    threshold: Double = 0.3, bucketWidth: Int = 20,
                    dfCap: Int = 50): DataFrame =
    jaccardNgram(s, dir, threshold, bucketWidth, dfCap, dropDocs = false)

  /** [[xJaccardNgram]] with the docs persist dropped, as the storage-
    * pressure gate drops it: the spec seam that pins the fallback's output
    * byte-identical. */
  private[ext] def xJaccardNgramDocsDropped(s: SparkSession,
                                            dir: String): DataFrame =
    jaccardNgram(s, dir, 0.3, 20, 50, dropDocs = true)

  /** Fraction of block-manager storage capacity past which the measured
    * footprint of the family's two caches counts as STORAGE PRESSURE and
    * the docs persist is dropped. With both corpus-sized persists kept,
    * `x_jaccard_ngram`'s time depended on what else the block manager held:
    * same-code readings spanned 3.9–26.8 s on the sf0.1 board and
    * 117–170 s at the 100× scale. The gate is REACTIVE, not predictive: parquet-size-
    * based estimates are off by two orders (594 KB of snappy parquet
    * becomes multi-GB bigram caches), so the caches are materialized first
    * and the real bytes decide. Calibration from the 30×/100× scale runs
    * (16 GB probe heap → ~9.4 GiB storage): 30× fits comfortably (cached
    * variant wins, 33–41 s vs the fallback's 52) and stays cached; at 100×
    * the caches overgrow storage and spill (117–170 s, ±20% flutter) while
    * the docs-free fallback is flat (165 s, leg 0.954) — so the gate fires
    * between them, trading a possibly-faster median for the bounded worst
    * case. */
  private val StoragePressureFraction = 0.5

  private def jaccardNgram(s: SparkSession, dir: String,
                           threshold: Double, bucketWidth: Int,
                           dfCap: Int, dropDocs: Boolean): DataFrame = {
    require(threshold > 0, "zero-intersection pairs are pruned by the index")
    // The two shared frames are materialized SERIALIZED and released when
    // the query completes. Cold timings: sf0.1 ~4.3 s, 30x 33-38 s, 100x
    // 117-170 s, ahead of the docs-persist-only fallback (52/165 s, leg
    // 0.954) and of a cache-free shape (131/391 s) at every scale. The
    // 30x->100x leg reads 0.97-1.25 across four runs: single-JVM spill
    // flutter as both caches outgrow one 9.4 GiB block manager, a pressure
    // profile a many-executor cluster does not reproduce; see COVERAGE.md
    // "r14 scale + drift measurements".
    //  - `docs` (shingled corpus): consumed by the posting build AND the
    //    exact-scoring `sets` frame — uncached, the scoring arm re-scans
    //    and re-shingles the whole corpus (shingle CPU, not the shuffle,
    //    measured as the dominant local cost);
    //  - `grouped` (the (lang, bucket, gram) index): consumed by the
    //    candidate and capped-count branches — caching it keeps the
    //    corpus-sized gram SHUFFLE at exactly one, the invariant that
    //    dominates on a real cluster where exchanges cross the network
    //    (a cache is robust to AQE re-planning where plan-identity
    //    exchange reuse is not).
    // MEMORY_AND_DISK_SER, not localCheckpoint: deserialized gram arrays
    // are 3-5x larger and squeezed execution memory at the 100x scale
    // (localCheckpoint variant measured leg exponent 1.47; serialized
    // persist 0.95). At 100 TB both caches are disk-backed spill; a
    // deployment short on executor disk should drop the `docs` persist
    // first — recomputing the shingle scan is cheap, re-shuffling the
    // gram index is not.
    val docsBase = bigramDocs(s, dir, bucketWidth)
    val docs = if (dropDocs) docsBase else docsBase.persist(Ser)
    // one aggregation classifies every (lang, bucket, gram) group: lists
    // with 2..dfCap docs become posting lists (candidate generators);
    // lists past the cap only contribute to the per-doc capped-gram count
    // the pruning bound needs
    val grouped = bigramPostings(docs).persist(Ser)
    if (!dropDocs) {
      // Storage-pressure gate: materialize both caches through one count
      // (the postings build would run first anyway; the main job below
      // reuses the cached index, so the extra cost is one count over
      // cached data), then let the measured storage footprint decide
      // whether the docs persist survives. The measurement is DELIBERATELY
      // total-context (every cached RDD in the SparkContext, mem + disk,
      // vs the block managers' memory capacity): the failure mode being
      // bounded is the block manager squeezing
      // execution memory, and a neighbor's cache squeezes exactly like our
      // own, so under a crowded context the right call is still to drop
      // the optional persist (result-invariant either way). Under pressure
      // the scoring arm recomputes the shingle scan instead of competing
      // for storage (leg 0.954, a far flatter worst case).
      grouped.count()
      val maxStorage = s.sparkContext.getExecutorMemoryStatus
        .values.map(_._1).sum
      val used = s.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      if (used > (StoragePressureFraction * maxStorage).toLong) {
        println(f"[graft] x_jaccard_ngram: dropping docs persist under " +
          f"storage pressure (${used / 1e9}%.2f GB cached vs " +
          f"${maxStorage / 1e9}%.2f GB storage x $StoragePressureFraction)")
        docs.unpersist(blocking = false)
      }
    }
    // EXACT candidate pruning (pure optimization — the result set and the
    // oracle are untouched): the pair expansion keeps one row per SHARED
    // SURVIVING gram, so the group-count `ni_s` is the pair's exact count
    // of shared in-cap grams; shared capped grams are at most
    // min(capped_a, capped_b); hence ni <= ni_s + min(capped_a, capped_b)
    // and jaccard <= ni_max/(na+nb-ni_max) (monotone in ni). Candidates
    // whose UPPER BOUND rounds below the threshold never reach the
    // array_intersect scoring — measured at sf0.1 the bound is tight:
    // 555,595 raw candidates -> 74 survivors (the answer set itself; most
    // raw candidates share exactly one rare gram), and the query dropped
    // 10.8 -> 6.6 s / 40.5 -> 33.8 s at 10x with byte-identical output.
    val cand = expandSortedPairs(grouped
        .filter(size(col("entries")).between(2, dfCap))
        .select(sort_array(col("entries")).as("entries")), dfCap)
      .groupBy(entryPair: _*)
      .agg(count(lit(1)).as("ni_s"))
    val capped = grouped
      .filter(size(col("entries")) > dfCap)
      .select(explode(col("entries.doc_id")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_capped"))
    val niMax = least(
      col("ni_s") + least(coalesce(col("ca.n_capped"), lit(0L)),
        coalesce(col("cb.n_capped"), lit(0L))),
      least(col("n_a"), col("n_b")))
    val pruned = cand
      .join(capped.as("ca"), col("doc_a") === col("ca.doc_id"), "left")
      .join(capped.as("cb"), col("doc_b") === col("cb.doc_id"), "left")
      .select(col("doc_a"), col("doc_b"), niMax.as("ni_max"),
        (col("n_a") + col("n_b")).as("tot"))
      // round like the final filter: jacc <= jmax pointwise and round is
      // monotone, so this never drops a pair the exact score would keep
      .filter(round(col("ni_max").cast("double") /
        (col("tot") - col("ni_max")), 4) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val sets = docs.select(col("doc_id"), col("bg"),
      size(col("bg")).cast("bigint").as("n_bg"))
    val out = pruned
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      // ni as a NAMED column: inlining it would evaluate array_intersect
      // twice per candidate (numerator + union denominator)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.bg"), col("b.bg"))).cast("bigint").as("ni"),
        (col("a.n_bg") + col("b.n_bg")).as("tot"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") / (col("tot") - col("ni")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
    releaseAfter(docs, grouped)(out)
  }

  /** Character-level edit-distance similarity join over document title
    * prefixes: the fuzzy string matching a record-linkage / entity-
    * resolution pass runs (typo'd titles, OCR noise), complementing the
    * token-set family (Jaccard/MinHash) with true Levenshtein semantics.
    * Candidates are pairs sharing a rare character 8-gram of the title
    * (q-gram blocking); survivors are scored with exact `levenshtein` and
    * kept at distance <= 3.
    *
    * Scale shape: the 8-gram inverted index is the only corpus-sized
    * frame, materialized once and reused by the document-frequency filter
    * and both self-join sides; the df cap (like [[xLshRecall]]'s shingle
    * cap) bounds every gram bucket, so candidates grow linearly with the
    * corpus, never quadratically — a gram shared by half the corpus never
    * reaches the join. Exact scoring touches ids + two 30-char titles per
    * candidate. Like any LSH-style blocker the gram filter is a recall
    * knob, and the oracle mirrors it exactly. */
  def xEditPairs(s: SparkSession, dir: String, dfCap: Int = 50,
                 maxDist: Int = 3): DataFrame = {
    val t = Tables.load(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("title"))
    // ONE aggregation builds the whole blocked index: grams group to their
    // posting list, the df cap drops the frequent ones, and candidate
    // pairs are generated IN-BUCKET from the sorted posting array (ids[i]
    // < ids[j] for i < j, so pair order is free). This replaces the r9
    // shape — df-filter join + dual-branch self-join, which shuffled the
    // corpus-sized gram index three times — with a single shuffle of it;
    // measured 5.3 s → isolated re-bench after the rewrite. Per-gram work
    // is bounded by dfCap²/2, so candidates still grow linearly with the
    // corpus.
    // collect_set keeps one entry per doc for a gram the title repeats
    val postings = t
      .select(col("doc_id"), col("title"),
        explode(sequence(lit(1), greatest(length(col("title")) - 7, lit(1))))
          .as("i"))
      .groupBy(col("title").substr(col("i"), lit(8)).as("gram"))
      .agg(sort_array(collect_set(col("doc_id"))).as("entries"))
      .filter(size(col("entries")) <= dfCap && size(col("entries")) >= 2)
    val cand = expandSortedPairs(postings, dfCap)
      .select(col("ea").as("doc_a"), col("eb").as("doc_b"))
      .distinct()
    cand
      .join(t.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(t.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        // thresholded form: the banded DP stops at maxDist+1 instead of
        // filling the full matrix (measured 3.0 s -> 0.6 s on 353k
        // candidates); it returns -1 ABOVE the bound, hence between()
        levenshtein(col("ta.title"), col("tb.title"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
      .orderBy("doc_a", "doc_b")
  }

  /** Sorted-neighborhood pairing (Hernández & Stolfo, SIGMOD'95) — the
    * classic record-linkage alternative to gram blocking
    * ([[xEditPairs]]): order records by a normalization key and compare
    * only rows within a fixed rank window `w`. Catches prefix-similar
    * near-duplicates with O(n·w) comparisons and no candidate blow-up on
    * skewed grams.
    *
    * Spark shape: the global sort a single-node SNM uses would be a
    * single-partition window — instead the key's 2-char prefix becomes the
    * BLOCK (standard multi-pass/blocked SNM), the rank window runs per
    * block (`row_number` over a block-partitioned window), and neighbors
    * join on `(block, rank distance ≤ w)` — a block-bounded equi-join.
    * Cross-block neighbors are the documented tradeoff; production runs do
    * a second pass with a rotated key. Scoring is `levenshtein` on a fixed
    * 32-char prefix, so each comparison is O(1) at corpus scale. */
  def xSnmPairs(s: SparkSession, dir: String, w: Int = 3,
                maxDist: Int = 10): DataFrame =
    snmPairs(Tables.load(s, dir, "documents"), w, maxDist)

  /** [[xSnmPairs]] over an explicit (doc_id, text) frame — the fixture
    * surface that lets a spec pin the banding bound on a fully skewed
    * block (every doc in ONE block ⇒ candidates must stay ≤ n·w, the
    * linear contract; the pre-banding join shape was n²/2 there). */
  private[ext] def snmPairs(docs: DataFrame, w: Int,
                            maxDist: Int): DataFrame = {
    val t = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        substring(lower(col("text")), 1, 24).as("k"),
        substring(lower(col("text")), 1, 32).as("p32"))
    val win = Window.partitionBy("block").orderBy(col("k"), col("doc_id"))
    val r = t.withColumn("block", substring(col("k"), 1, 2))
      .withColumn("rn", row_number().over(win))
      .localCheckpoint() // one ranking pass shared by both join sides
    // Rank-bucket banding: a bare `a.block = b.block` join is QUADRATIC in
    // block size (a skewed 2-char prefix makes its block all-pairs before
    // the rank filter prunes — measured 13 s at sf0.1). Neighbor ranks
    // (rn, rn+w] live in the same or the next w-sized bucket, so the left
    // side claims both bucket keys and the join key becomes
    // (block, bucket): candidates are ≤ 2w per row — linear — and the
    // rank-distance predicate only trims the bucket edges.
    val bucket = floor(col("rn") / w)
    val a = r.select(col("doc_id").as("doc_a"), col("p32").as("pa"),
      col("block"), col("rn").as("rn_a"),
      explode(array(bucket, bucket + 1)).as("bk"))
    val b = r.select(col("doc_id").as("doc_b"), col("p32").as("pb"),
      col("block"), col("rn").as("rn_b"), bucket.as("bk"))
    a.join(b, Seq("block", "bk"))
      .filter(col("rn_b") - col("rn_a") >= 1 && col("rn_b") - col("rn_a") <= w)
      .select(col("doc_a"), col("doc_b"),
        // thresholded: banded DP, -1 above the bound (see xEditPairs)
        levenshtein(col("pa"), col("pb"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-document repeated-span coverage — the exact-substring-duplication
    * diagnostic behind suffix-array training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022),
    * re-expressed for Spark with a fixed-length gram index instead of a
    * suffix array: every positional L-token gram is hashed, a gram is
    * "duplicated" iff it occurs in two distinct documents, and each document
    * reports how many of its token positions are covered by at least one
    * duplicated gram. The per-doc `dup_ratio` is the gate a pipeline uses to
    * drop boilerplate-heavy pages; the span starts are what a surgical
    * span-removal pass consumes.
    *
    * Scale shape: one explode to (gram-hash, doc, pos) — the same volume as
    * the shingle stream; duplication is min(doc)≠max(doc) per gram, a fully
    * map-side-combinable aggregate (never a count-distinct); the equi-join
    * back to starts carries ids and positions only; coverage is a per-doc
    * aggregate. A true suffix array finds *maximal* repeats of any length —
    * the fixed-L index trades that for pure map/agg/join at corpus scale
    * (standard practice; L tunes the minimum span worth reporting). */
  def xRepeatedSpans(s: SparkSession, dir: String, L: Int = 8): DataFrame = {
    val grams = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= L)
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (L - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(L))))))
          .as(Seq("pos0", "gram")))
    // Duplicated across documents ⇔ the gram's doc set is not a singleton —
    // min≠max needs no distinct expansion and partial-aggregates map-side.
    val dup = grams.groupBy("gram")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gram")
    grams.join(dup, "gram")
      .select(col("doc_id"), col("n_tokens"), col("pos0"),
        explode(sequence(col("pos0") + 1, col("pos0") + L)).as("p"))
      .groupBy("doc_id", "n_tokens")
      .agg(countDistinct(col("pos0")).as("n_dup_spans"),
        countDistinct(col("p")).as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"),
        col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Directed n-gram containment over the same LSH candidates as
    * [[xMinhashPairs]]: `cont_a = |A∩B| / |A|` and symmetrically `cont_b` —
    * the asymmetric measure that catches quote/subset duplication Jaccard
    * dilutes (a short doc fully embedded in a long one has tiny Jaccard but
    * containment 1.0; CCNet/RefinedWeb-style pipelines gate on it to drop
    * the contained side). Same sub-quadratic shape as the Jaccard scorer:
    * band equi-join candidates, explode-join intersection counts, ids+sizes
    * through every shuffle. */
  def xContainmentPairs(s: SparkSession, dir: String): DataFrame =
    scoreIntersections(s, dir, lshCandidates(s, dir, bands = 1))
      .select(col("doc_a"), col("doc_b"),
        round(col("ni") / col("n_a"), 4).as("cont_a"),
        round(col("ni") / col("n_b"), 4).as("cont_b"))
      .orderBy("doc_a", "doc_b")

  /** Two-band LSH variant: candidates must share BOTH band-0 and band-1
    * min-shingle hashes — candidate count drops ~quadratically in the match
    * probability (330 vs 10.6k pairs at sf0.1), which is the knob that keeps
    * near-dup candidate generation sub-linear in corpus pairs at 100 TB
    * (tune bands/rows for the target Jaccard threshold). */
  def xMinhashPairs2Band(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir, bands = 2).orderBy("doc_a", "doc_b")

  /** OR-composed multi-band candidates: a pair is a candidate iff it shares
    * ANY of `bands` minhash values (each band an independent one-row
    * signature — bands 0..3 chunk md5(sh), bands past 4 chunk salted
    * digests). Per-band collision probability for a pair at Jaccard J is J,
    * so the OR over b bands catches it with 1−(1−J)^b — the knob that
    * reaches the mid-band (J 0.3–0.6) template clusters of the hard corpus
    * (`tools/recall_hard.py`), which both the 1-band generator (recall
    * 0.35) and the dfCap=50 exact join (0.311) miss: at J = 0.32, 8 bands
    * give an expected 0.95.
    *
    * Spark shape: ONE equi-join, not b of them — the signature frame
    * posexplodes to (band_idx, band_val, doc_id, n_sh) rows (fixed-width,
    * b per doc; never shingle text) and self-joins on the composite
    * (band_idx, band_val) key, so candidate generation stays a single
    * shuffle whose mass is b× the 1-band sketch stream. The per-pair group
    * then yields `min_band` — the smallest band index that matched — which
    * makes ONE pass measure every OR-prefix at once: the pair is an OR-b'
    * candidate for any b' > min_band (the same one-pass trick as
    * [[jaccardTruthPairs]]' min_df), which [[xMultibandRecall]] exploits. */
  private[ext] def multibandCandidates(s: SparkSession, dir: String,
                                       bands: Int): DataFrame = {
    val banded = docSignatures(s, dir, bands)
      .select(col("doc_id"), col("n_sh"),
        posexplode(array((0 until bands).map(i => col(s"b$i")): _*))
          .as(Seq("band_idx", "band_val")))
      // explicit exchange → reused across both self-join branches (the
      // lshCandidates idiom); keys are (band_idx, band_val) so the b band
      // spaces never collide into one bucket
      .repartition(col("band_idx"), col("band_val"))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_bands"),
        min(col("a.band_idx")).as("min_band"))
      // candidate set: sub-linear in corpus pairs by LSH design (≤ b× the
      // 1-band mass), referenced multiple times by the scorer
      .localCheckpoint()
  }

  /** Multi-band OR-LSH near-dup pairs — the mid-band operator the r13
    * hard-corpus grid priced: 8 one-row bands OR-composed
    * (b ≈ log(0.05)/log(1−J) ≈ 8 at J = 0.32 for 0.95 recall), candidates
    * scored with exact shingle Jaccard exactly like [[xMinhashPairs]].
    * `n_bands` reports how many bands agreed — a free LSH-side similarity
    * estimate (E[n_bands] = b·J) a consumer can gate on before trusting
    * the exact score. Candidate generation is one fixed-width equi-join
    * ([[multibandCandidates]]); exact scoring touches only surviving docs. */
  def xMinhashPairsMultiband(s: SparkSession, dir: String,
                             bands: Int = 8): DataFrame =
    scoreIntersections(s, dir, multibandCandidates(s, dir, bands))
      .select(col("doc_a"), col("doc_b"), col("n_bands"),
        round(col("ni") / (col("n_a") + col("n_b") - col("ni")), 4)
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** KMV bottom-k sketch per document via the custom typed aggregator
    * ([[graft.functions.BottomKSketch]]): mergeable bounded-state sketch —
    * the shuffle carries at most k hashes per doc however long the text.
    * Emitted as a comma-joined scalar so the driver compare (pandas sort)
    * can hash it — array-typed output columns crash lexsort. */
  def xKmvSketch(s: SparkSession, dir: String): DataFrame =
    Grams.shingleRows(Tables.load(s, dir, "documents"))
      .groupBy("doc_id")
      .agg(graft.functions.BottomKSketch.bottomK(8)(md5(col("shingle")))
        .as("kmv_arr"))
      .select(col("doc_id"), array_join(col("kmv_arr"), ",").as("kmv"))
      .orderBy("doc_id")

  /** Same sketch through the Catalyst-native [[graft.functions.BottomKNative]]
    * TypedImperativeAggregate (binary partial buffers, no Dataset encoders)
    * — shares the typed Aggregator's oracle; both must agree exactly. */
  def xKmvNative(s: SparkSession, dir: String): DataFrame =
    Grams.shingleRows(Tables.load(s, dir, "documents"))
      .groupBy("doc_id")
      .agg(graft.functions.BottomKNative.bottomK(8)(md5(col("shingle")))
        .as("kmv"))
      .orderBy("doc_id")

  /** KMV set operations between sources (Beyer et al., "On Synopses for
    * Distinct-Value Estimation Under Multiset Operations", SIGMOD 2007):
    * per-source bottom-k sketches merged pairwise into union / intersection
    * / Jaccard cardinality estimates. The union sketch of two KMV sketches
    * is the bottom-k of their union; with `v_k` the k-th smallest hash as a
    * fraction of the hash space, `|A∪B| ≈ (k-1)/v_k`, the Jaccard estimate
    * is the fraction of the merged sketch present in BOTH input sketches,
    * and `|A∩B| ≈ ρ·|A∪B|`. When the merged sketch holds fewer than k
    * values the counts are exact and reported directly.
    *
    * Scale shape: this is the 100 TB way to ask "how much do two corpus
    * sources overlap" — per-source state is bounded at k 32-char hashes
    * regardless of corpus size (TreeSet-mergeable TypedImperativeAggregate,
    * map-side partials), the only corpus-wide shuffle is the fixed-width
    * per-source aggregate, and the pairwise merge runs on a #sources-row
    * dimension table. The exact twin (`x_corpus_overlap`) shuffles the
    * shingle stream; this one shuffles k hashes per source. */
  def xKmvSetops(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val sk = Grams.shingleRows(Tables.load(s, dir, "documents"), "source")
      .groupBy("source")
      .agg(split(graft.functions.BottomKNative.bottomK(k)(md5(col("shingle"))),
        ",").as("kmv"))
      // #sources rows of k hashes: materialize so the corpus-wide sketch
      // aggregate runs once, not once per side of the pair join.
      .localCheckpoint()
    val a = sk.select(col("source").as("source_a"), col("kmv").as("ka"))
    val b = sk.select(col("source").as("source_b"), col("kmv").as("kb"))
    // Lexicographic sort of fixed-width lowercase-hex md5 IS numeric order,
    // so bottom-k of the union is a plain array_sort + slice; v_k derives
    // from the first 8 hex chars (exact 32-bit integer in a double, the
    // same nibble arithmetic as the DuckDB side).
    val merged = slice(array_sort(array_union(col("ka"), col("kb"))), 1, k)
    val vk = conv(substring(element_at(col("merged"), k), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val pairs = a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .withColumn("merged", merged)
      .withColumn("k_used", size(col("merged")))
      .withColumn("union_est",
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1).toDouble) / vk))
      .withColumn("jac",
        size(filter(col("merged"), x =>
          array_contains(col("ka"), x) && array_contains(col("kb"), x)))
          .cast("double") / col("k_used"))
    pairs.select(col("source_a"), col("source_b"), col("k_used"),
        round(col("union_est") + lit(1e-9), 2).as("union_est"),
        round(col("union_est") * col("jac") + lit(1e-9), 2).as("inter_est"),
        round(col("jac") + lit(1e-9), 6).as("jaccard_est"))
      .orderBy("source_a", "source_b")
  }

  /** Content-defined chunking (Muthitacharoen et al., "A Low-Bandwidth
    * Network File System", SOSP 2001 — the LBFS/rsync family): chunk
    * boundaries fall where a rolling content hash crosses a threshold, so
    * an insertion shifts at most the chunk it lands in — unlike fixed-L
    * grams, whose positions all shift. Here the boundary test is
    * "md5 of the adjacent token pair taken mod 32 == 0" (avg chunk ≈ 32
    * tokens); each chunk is hashed whole and a chunk is duplicated iff it
    * occurs in two distinct documents.
    *
    * Scale shape: tokenization and boundary flags are narrow maps; the
    * chunk-id running count is a per-document window (the one inherently
    * sequential step — partitioned on doc_id, never global); chunk
    * assembly is a grouped sort-struct aggregate; cross-doc duplication is
    * the same min≠max map-side-combinable test as [[xRepeatedSpans]], never
    * a count-distinct. Shuffles carry (doc, pos, token) then (hash, ids) —
    * no text bodies. */
  def xCdcChunks(s: SparkSession, dir: String, modulus: Int = 32): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "tok")))
    // boundary BEFORE token i when the (tok[i-1], tok[i]) pair hashes to 0
    // mod 32; the first token of a doc never opens a new chunk
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val flagged = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("bnd",
        when(col("prev").isNotNull &&
          conv(substring(md5(concat_ws(" ", col("prev"), col("tok"))), 1, 4),
            16, 10).cast("long") % modulus === 0, 1L).otherwise(0L))
      .withColumn("chunk", sum(col("bnd")).over(w))
    val chunks = flagged.groupBy("doc_id", "chunk")
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          t => t.getField("tok")))).as("h"),
        count(lit(1)).as("n_toks"))
    val dup = chunks.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"), lit(1L).as("is_dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_chunks"),
        round(avg(col("n_toks")) + lit(1e-9), 2).as("avg_chunk_toks"))
      .withColumn("dup_chunk_ratio",
        round(col("n_dup_chunks") / col("n_chunks") + lit(1e-9), 6))
      .orderBy("doc_id")
  }

  /** Recall of the 1-band MinHash-LSH candidate generator against exact
    * shingle-Jaccard ground truth, reported per similarity threshold — the
    * text-side twin of [[Similarity.xAnnRecall]]: before trusting LSH to
    * find the near-dups, measure how many true pairs it surfaces at each
    * similarity level (by LSH theory recall rises with similarity; this
    * report shows the actual curve on the actual corpus).
    *
    * Ground truth is EXACT, not sampled: any pair with Jaccard > 0 shares a
    * shingle, so the inverted-index self-join (explode on shingle, equi-join,
    * count per pair) enumerates every pair above any positive threshold —
    * the same explode-join shape as [[scoreIntersections]], shuffling only
    * (shingle, doc_id). At 100 TB the knob is the document-frequency cap on
    * shingles ([[lshTruthPairs]]' `dfCap` — drop ubiquitous shingles from
    * the index), which bounds the per-shingle quadratic exactly like LSH
    * bucket width; the cap is applied in BOTH engines, so the oracle pins
    * the capped semantics.
    *
    * The candidate arm is [[lshCandidates]] itself. A doc's band minima
    * depend only on its own shingles and the truth pairs are left-joined to
    * the candidates, so each truth pair's verdict is the same whether or
    * not the truth arm is sampled. */
  def xLshRecall(s: SparkSession, dir: String,
                 thresholds: Seq[Double] =
                   Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
                 dfCap: Int = 100,
                 sampleFrac: Double = 1.0): DataFrame = {
    val (truth, exploded, docShingles) =
      lshTruthBuild(s, dir, dfCap, sampleFrac)
    val cand = lshCandidates(s, dir, bands = 1)
      .select(col("doc_a").as("c_a"), col("doc_b").as("c_b"),
        lit(1L).as("cand_hit"))
    val scored = truth.join(cand,
        col("doc_a") === col("c_a") && col("doc_b") === col("c_b"), "left")
      .select(col("jac"), coalesce(col("cand_hit"), lit(0L)).as("cand_hit"))
    val th = s.range(1)
      .select(explode(typedLit(thresholds)).as("threshold"))
    // 7 threshold rows broadcast against the (small) true-pair set; a
    // threshold with zero qualifying pairs still reports a row
    releaseAfter(exploded, docShingles)(broadcast(th)
      .join(scored, col("jac") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(count(col("jac")).as("n_true"),
        sum(coalesce(col("cand_hit"), lit(0L))).as("n_hit"))
      .select(col("threshold"), col("n_true"), col("n_hit"),
        when(col("n_true") > 0,
          round(col("n_hit") / col("n_true") + lit(1e-9), 6))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy("threshold"))
  }

  /** Recall of the OR-composed multi-band candidate generator
    * ([[multibandCandidates]]) against the same df-capped exact-Jaccard
    * ground truth as [[xLshRecall]], over a (bands × threshold) grid — the
    * measurement that says how many bands the corpus's similarity
    * distribution actually needs. ONE candidate pass scores every
    * OR-prefix: a pair is an OR-b candidate iff `min_band < b` (its
    * smallest matching band index — see [[multibandCandidates]]), so the
    * grid is a broadcast join over the truth set, never a re-run per
    * bands value; the bands=1 row IS the 1-band baseline
    * ([[xLshRecall]]'s candidate arm) by construction. */
  def xMultibandRecall(s: SparkSession, dir: String,
                       bandGrid: Seq[Int] = Seq(1, 2, 4, 8),
                       thresholds: Seq[Double] =
                         Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
                       dfCap: Int = 100,
                       sampleFrac: Double = 1.0,
                       recallBar: Double = MultibandRecallBar): DataFrame = {
    val (truth, exploded, docShingles) =
      lshTruthBuild(s, dir, dfCap, sampleFrac)
    val cand = multibandCandidates(s, dir, bandGrid.max)
      .select(col("doc_a").as("c_a"), col("doc_b").as("c_b"),
        col("min_band"))
    val scored = truth.join(cand,
        col("doc_a") === col("c_a") && col("doc_b") === col("c_b"), "left")
      .select(col("jac"), col("min_band"))
    val grid = s.range(1)
      .select(explode(typedLit(bandGrid.map(_.toLong))).as("bands"))
      .select(col("bands"), explode(typedLit(thresholds)).as("threshold"))
    // 28 grid rows broadcast against the (small) true-pair set; a cell
    // with zero qualifying pairs still reports a row
    val cells = broadcast(grid)
      .join(scored, col("jac") >= col("threshold"), "left")
      .groupBy("bands", "threshold")
      .agg(count(col("jac")).as("n_true"),
        sum(when(col("jac").isNotNull && col("min_band") < col("bands"), 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("bands"), col("threshold"), col("n_true"), col("n_hit"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true") + lit(1e-9), 6))
          .otherwise(lit(0.0)).as("recall"))
    // the eval emits the DECISION, not just the table: per threshold,
    // `recommended` marks the SMALLEST banding whose measured recall clears
    // the bar — the b a deployment should run at that similarity floor; no
    // row is marked where nothing clears it. A 28-row window, not a corpus
    // operation.
    val wTh = org.apache.spark.sql.expressions.Window.partitionBy("threshold")
    releaseAfter(exploded, docShingles)(cells
      .withColumn("best_b",
        min(when(col("recall") >= recallBar, col("bands"))).over(wTh))
      .select(col("bands"), col("threshold"), col("n_true"), col("n_hit"),
        col("recall"),
        coalesce(col("bands") === col("best_b"), lit(false))
          .as("recommended"))
      .orderBy("bands", "threshold"))
  }

  /** Exact-Jaccard ground-truth pairs for [[xLshRecall]], with the scale
    * bound coded: shingles whose document frequency exceeds `dfCap` are
    * dropped from the truth index BEFORE the self-join — one ubiquitous
    * shingle would otherwise make its bucket quadratic in the corpus.
    * Jaccard is then computed over the surviving (non-ubiquitous) shingles
    * on both the intersection and the size side, a well-defined quantity
    * the DuckDB oracle mirrors with the same cap. */
  private[ext] def lshTruthPairs(s: SparkSession, dir: String,
                                 dfCap: Int): DataFrame = {
    val (truth, exploded, docShingles) = lshTruthBuild(s, dir, dfCap)
    releaseAfter(exploded, docShingles)(truth)
  }

  /** Deterministic md5 draw on a key column: keeps a row iff the first 8
    * hex chars of md5(key), read as a 32-bit integer, fall below
    * `frac` of the hash space — the eval-envelope sampling arm. md5, not
    * rand(): the draw must be reproducible across runs, engines and
    * partitionings, and the DuckDB compare never sees it (`Verify` always
    * runs the frac = 1 defaults). */
  private def hashSampled(df: DataFrame, key: Column,
                          frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"sample fraction $frac outside (0,1]")
    if (frac >= 1.0) df
    else df.filter(
      conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("double")
        < lit(frac * 4294967296.0))
  }

  /** The truth pipeline of [[lshTruthPairs]]. Its two corpus-sized shared
    * frames are persisted and returned with the truth frame, so the caller
    * releases them through [[releaseAfter]] once the truth is consumed.
    *
    * Serialized persists, not localCheckpoint: these two frames are
    * CORPUS-sized (every (doc, shingle) row), and the 100x scale run showed
    * deserialized caches of corpus-sized string data squeezing execution
    * memory 3-5x harder than their serialized form (x_jaccard_ngram's
    * localCheckpoint variant: leg exponent 1.47 vs 0.95 serialized). */
  private def lshTruthBuild(s: SparkSession, dir: String, dfCap: Int,
                            sampleFrac: Double = 1.0)
      : (DataFrame, DataFrame, DataFrame) = {
    // Sampling arm: restrict the truth corpus to an md5-drawn doc sample
    // BEFORE shingling — recall is a ratio, statistically valid on the
    // pair subset whose endpoints both survive the draw (~frac² of pairs),
    // and the truth arm's Σ min(df,cap)²/2 cost shrinks with the sample.
    // The df cap scales to the sample (ceil(cap·frac)) so "ubiquitous"
    // keeps its per-capita meaning; the candidate arm needs no change — a
    // sampled pair is a candidate iff its bands collide, which sampling
    // never alters.
    val effCap = math.max(1, math.ceil(dfCap * sampleFrac).toInt)
    val exploded = Grams.shingleRows(hashSampled(
      Tables.load(s, dir, "documents"), col("doc_id"), sampleFrac))
      .persist(Ser) // df aggregate + the capped-index join re-read it
    val rare = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= effCap).select("shingle")
    val docShingles = exploded.join(rare, "shingle")
      .select("doc_id", "shingle")
      .persist(Ser) // both truth-join sides + the size aggregate
    val sizes = docShingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = docShingles.as("a").join(docShingles.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ni"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")), 4).as("jac"))
    (truth, exploded, docShingles)
  }

  /** Exact UNCAPPED truth pairs for [[xJaccardRecall]]: every same-(lang,
    * bucket) pair sharing at least one bigram, with its exact bigram
    * Jaccard and `min_df` — the document frequency of the pair's RAREST
    * shared bigram within the block. `min_df` is what makes one pass
    * measure every cap at once: [[xJaccardNgram]] generates a pair iff
    * some shared gram's posting list survives the cap, i.e. iff
    * `min_df <= dfCap` — so the capped join's pair set falls out of the
    * truth frame by a filter, no re-run per cap (the spec pins this
    * equivalence against the shipped query itself).
    *
    * Because nothing is capped, the per-pair group count IS the exact
    * intersection size (every shared bigram contributes one row), so the
    * Jaccard here equals the shipped query's full-array `array_intersect`
    * score — no second scoring pass. This is an EVAL harness, not the
    * production path: the per-gram expansion is df²/2 with no cap, which
    * is exactly the quadratic the shipped join exists to avoid.
    * `truthDfCeil` is the eval's own safety bound (default 10000, two
    * orders past the max in-block df observed at sf0.1 = 63); grams past
    * it would be excluded from truth — at that frequency they appear in
    * essentially every doc of the block and carry no pair information,
    * and the oracle mirrors the ceiling exactly. A HIT ceiling would
    * silently undercount truth Jaccard and break the min_df≤cap
    * equivalence, so the ceiling is ASSERTED against the corpus's actual
    * max in-block df — a bigger/skewed corpus fails loud ("raise the
    * ceiling"), never quietly mis-measures recall. */
  private[ext] def jaccardTruthPairs(s: SparkSession, dir: String,
                                     bucketWidth: Int = 20,
                                     truthDfCeil: Int = 10000): DataFrame = {
    val (truth, docs) = jaccardTruthBuild(s, dir, bucketWidth, truthDfCeil)
    releaseAfter(docs)(truth)
  }

  /** The uncapped truth pipeline of [[jaccardTruthPairs]]. The shingled
    * docs frame is persisted and returned with the truth frame, so the
    * caller releases it through [[releaseAfter]]. The serialized persist
    * carries the same reuse + footprint trade as [[xJaccardNgram]]: the
    * ceiling ASSERT and the truth pipeline both read the frame, and the
    * assert's df probe is a count-only aggregate (map-side-combinable
    * longs — never the collect_list posting arrays, which cost more to
    * build). */
  private def jaccardTruthBuild(s: SparkSession, dir: String,
                                bucketWidth: Int, truthDfCeil: Int,
                                blockSampleFrac: Double = 1.0)
      : (DataFrame, DataFrame) = {
    // Sampling arm: the jaccard envelope samples whole (lang, bucket)
    // BLOCKS, not documents — within a surviving block every df, min_df
    // and pair is EXACT (doc-sampling would shrink in-block dfs and bias
    // the min_df <= cap equivalence optimistic), and blocks are the unit
    // the df²/2 truth cost accrues by. md5 draw on the block key.
    val docs = hashSampled(bigramDocs(s, dir, bucketWidth),
      concat_ws("|", col("lang"), col("bucket")), blockSampleFrac)
      .persist(Ser)
    // the ceiling probe runs (and can throw) BEFORE the caller gets the
    // cache handle back — release on the failure path so a loud assert
    // doesn't also leak a corpus-sized cache
    val maxDf = try {
      val maxDfRow = docs
        .select(col("lang"), col("bucket"), explode(col("bg")).as("g"))
        .groupBy("lang", "bucket", "g").agg(count(lit(1)).as("df"))
        .agg(max("df")).head()
      if (maxDfRow.isNullAt(0)) 0L else maxDfRow.getLong(0)
    } catch {
      case t: Throwable => docs.unpersist(blocking = false); throw t
    }
    if (maxDf > truthDfCeil) docs.unpersist(blocking = false)
    require(maxDf <= truthDfCeil,
      s"jaccard truth: max in-block df $maxDf exceeds truthDfCeil=" +
        s"$truthDfCeil — truth pairs would be silently excluded; raise " +
        "the ceiling (and budget its df^2 expansion) or sample the corpus")
    val truth = expandSortedPairs(bigramPostings(docs)
        .filter(size(col("entries")).between(2, truthDfCeil))
        .select(size(col("entries")).cast("bigint").as("df"),
          sort_array(col("entries")).as("entries")), truthDfCeil, "df")
      .groupBy(entryPair: _*)
      .agg(count(lit(1)).as("ni"), min(col("df")).as("min_df"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")), 4).as("jac"),
        col("min_df"))
    (truth, docs)
  }

  /** Recall of [[xJaccardNgram]]'s df-cap against exact uncapped truth,
    * reported over a (dfCap × threshold) grid: for each cap in `dfCaps` and
    * each similarity threshold, how many true pairs (exact Jaccard ≥ t
    * within the same blocking) the capped join surfaces. The capped arm is NOT
    * re-run per cap: a pair survives cap c iff `min_df <= c` (see
    * [[jaccardTruthPairs]]), so the whole grid is one truth pass + a
    * broadcast grid join — the same harness shape as [[xLshRecall]], but
    * measuring the EXACT join's pruning knob instead of LSH banding.
    * By construction recall is monotone in both axes (higher cap keeps
    * more grams; near-identical pairs share rarer grams), and the report
    * shows where the curve crosses the ~0.95 bar the cap must clear.
    *
    * ==Eval-harness scale envelope==
    * The recall evals deliberately carry an expensive truth arm — that IS
    * their point — so each has a stated envelope beyond which the eval
    * must run on a SAMPLE (hash-sample doc_id/vec_id; recall is a ratio,
    * statistically valid on a sample) instead of the full corpus:
    *
    * {{{
    * eval              truth-arm cost model            full-corpus envelope
    * x_jaccard_recall  Σ_gram df²/2, df ≤ truthDfCeil  blocks whose max df
    *   (this)          (uncapped pass ASSERTS ceil)    stays ≤ ~10³; past
    *                                                   ~10⁶ docs/block the
    *                                                   df² mass dominates →
    *                                                   sample blocks
    * x_lsh_recall      Σ_shingle min(df,dfCap)²/2      linear in shingles
    *                   (cap = 100 is part of the       (each ≤ 5·10³ pairs)
    *                   measured semantics)             → full corpus OK to
    *                                                   ~10⁷ docs, then
    *                                                   sample docs
    * x_ann_recall      |queries| × corpus brute scan   query set is already
    *                   (query sample FIXED at 10)      the sample → any
    *                                                   corpus, linear
    * }}}
    *
    * Measured anchors at sf0.1 (5k docs, local[32]): x_jaccard_recall
    * ~9 s, x_lsh_recall ~6 s — both linear in their cost models above.
    * The sampling arms are parameters: `blockSampleFrac` here draws whole (lang, bucket) blocks by md5 so
    * every in-block df stays exact; `sampleFrac` on [[xLshRecall]] /
    * [[xMultibandRecall]] draws documents (the cap scales to the sample).
    * ExtSpec pins that sampled recall tracks full recall at sf0.1. */
  def xJaccardRecall(s: SparkSession, dir: String,
                     dfCaps: Seq[Int] = Seq(25, 50, 100),
                     thresholds: Seq[Double] =
                       Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
                     blockSampleFrac: Double = 1.0): DataFrame = {
    val (truthAll, docs) = jaccardTruthBuild(s, dir, bucketWidth = 20,
      truthDfCeil = 10000, blockSampleFrac)
    val truth = truthAll.filter(col("jac") >= thresholds.min)
    val grid = s.range(1)
      .select(explode(typedLit(dfCaps.map(_.toLong))).as("df_cap"))
      .select(col("df_cap"), explode(typedLit(thresholds)).as("threshold"))
    // 18 grid rows broadcast against the (small) true-pair set; a cell
    // with zero qualifying pairs still reports a row
    releaseAfter(docs)(broadcast(grid)
      .join(truth, col("jac") >= col("threshold"), "left")
      .groupBy("df_cap", "threshold")
      .agg(count(col("jac")).as("n_true"),
        sum(when(col("jac").isNotNull && col("min_df") <= col("df_cap"), 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("df_cap"), col("threshold"), col("n_true"), col("n_hit"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true") + lit(1e-9), 6))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy("df_cap", "threshold"))
  }

  val queries: Map[String, Q] = Map(
    "x_jaccard_recall" -> ((s, dir) => xJaccardRecall(s, dir)),
    "x_dedup_incremental" -> ((s, dir) => xDedupIncremental(s, dir)),
    "x_lsh_recall" -> ((s, dir) => xLshRecall(s, dir)),
    "x_cdc_chunks" -> ((s, dir) => xCdcChunks(s, dir)),
    "x_kmv_setops" -> ((s, dir) => xKmvSetops(s, dir)),
    "x_dedup_exact" -> xDedupExact,
    "x_kmv_native" -> xKmvNative,
    "x_minhash_signatures" -> xMinhashSignatures,
    "x_minhash_pairs" -> xMinhashPairs,
    "x_dedup_threshold_curve" -> xDedupThresholdCurve,
    "x_minhash_pairs_2band" -> xMinhashPairs2Band,
    "x_minhash_pairs_multiband" -> ((s, dir) => xMinhashPairsMultiband(s, dir)),
    "x_multiband_recall" -> ((s, dir) => xMultibandRecall(s, dir)),
    "x_containment_pairs" -> xContainmentPairs,
    "x_jaccard_ngram" -> ((s, dir) => xJaccardNgram(s, dir)),
    "x_edit_pairs" -> ((s, dir) => xEditPairs(s, dir)),
    "x_snm_pairs" -> ((s, dir) => xSnmPairs(s, dir)),
    "x_simhash" -> xSimhash,
    "x_simhash_pairs" -> ((s, dir) => xSimhashPairs(s, dir)),
    "x_simhash_md5" -> xSimhashMd5,
    "x_simhash_pairs_md5" -> ((s, dir) => xSimhashPairsMd5(s, dir)),
    "x_kmv_sketch" -> xKmvSketch,
    "x_repeated_spans" -> ((s, dir) => xRepeatedSpans(s, dir))
  )

  /** 64 per-bit sign sums from md5 nibbles — DuckDB half of the SimHash
    * oracle twin (generated, not hand-written: one sum per bit). */
  private val SimhashMd5BitsSql: String = (0 until 64).map { i =>
    val j = i / 4 + 1
    val sh = 3 - i % 4
    s"sum(CASE WHEN (((strpos('0123456789abcdef', substring(md5(tok), $j, 1)) - 1) >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS b$i"
  }.mkString(", ")

  private val SimhashMd5HexSql: String = (0 until 16).map { j =>
    val terms = (0 until 4)
      .map(k => s"(CASE WHEN b${4 * j + k} > 0 THEN ${8 >> k} ELSE 0 END)")
      .mkString(" + ")
    s"substring('0123456789abcdef', ($terms) + 1, 1)"
  }.mkString(" || ")

  private val SimhashMd5HammingSql: String = (1 to 16).map { j =>
    s"bit_count(xor(strpos('0123456789abcdef', substring(ha, $j, 1)) - 1, " +
      s"strpos('0123456789abcdef', substring(hb, $j, 1)) - 1))"
  }.mkString(" + ")

  /** Shared by the typed-Aggregator and TypedImperativeAggregate forms. */
  private val KmvOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
      |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t)
      |SELECT doc_id,
      |array_to_string(list_sort(list_transform(list_distinct(sh), x -> md5(x)))[1:8], ',') AS kmv
      |FROM sh ORDER BY doc_id""".stripMargin

  /** The x_minhash_pairs oracle, shared verbatim with the threshold-curve
    * oracle (which aggregates the identical pair stream). */
  private val MinhashPairsSql =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
      |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t),
      |sig AS (SELECT doc_id, sh,
      |  list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 1, 8))) AS band FROM sh)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |round(CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
      |  / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
      |FROM sig a JOIN sig b ON a.band = b.band AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Band-i min over a distinct-shingle list column `sh` — mirrors
    * [[docSignatures]]: bands 0..3 chunk md5(x), bands 4..7 chunk the
    * salted md5('1' || x), 8..11 md5('2' || x). */
  private def bandMinSql(i: Int): String = {
    val digest = if (i < 4) "md5(x)" else s"md5('${i / 4}' || x)"
    s"list_min(list_transform(sh, x -> substring($digest, ${1 + 8 * (i % 4)}, 8)))"
  }

  /** `sig` + `banded` CTE bodies for the 8-band OR-LSH oracles (generated,
    * not hand-written — one UNION ALL arm per band). Expects a CTE `sh`
    * with (doc_id, sh: distinct shingle list) in scope. Shared with the
    * streaming twin's oracle ([[StreamCuration.xStreamNeardup]]). */
  private[ext] val MultibandCtesSql: String = {
    val sigCols = (0 until 8).map(i => s"${bandMinSql(i)} AS b$i").mkString(", ")
    val arms = (0 until 8)
      .map(i => s"SELECT doc_id, $i AS bi, b$i AS bv FROM sig")
      .mkString("\nUNION ALL ")
    s"sig AS (SELECT doc_id, $sigCols FROM sh),\nbanded AS (\n$arms)"
  }

  val oracles: Map[String, String] = Map(
    "x_minhash_pairs_multiband" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM t),
        |$MultibandCtesSql,
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        |  FROM banded a JOIN banded b
        |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_bands AS BIGINT) AS n_bands,
        |round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |  / len(list_distinct(sa.sh || sb.sh)), 4) AS jaccard
        |FROM cand JOIN sh sa ON sa.doc_id = doc_a
        |JOIN sh sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""").stripMargin,
    "x_multiband_recall" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM t),
        |ds0 AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |rare AS (SELECT shingle FROM ds0 GROUP BY shingle HAVING count(*) <= 100),
        |ds AS (SELECT doc_id, shingle FROM ds0 JOIN rare USING (shingle)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT doc_a, doc_b,
        |  round(CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni), 4) AS jac
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b),
        |$MultibandCtesSql,
        |cand AS (SELECT a.doc_id AS c_a, b.doc_id AS c_b, min(a.bi) AS min_band
        |  FROM banded a JOIN banded b
        |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (SELECT jac, min_band FROM truth
        |  LEFT JOIN cand ON doc_a = c_a AND doc_b = c_b),
        |grid AS (SELECT bands, threshold FROM
        |  (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS bands),
        |  (SELECT CAST(unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS threshold)),
        |cells AS (SELECT bands, threshold, CAST(count(jac) AS BIGINT) AS n_true,
        |CAST(sum(CASE WHEN jac IS NOT NULL AND min_band < bands
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |CASE WHEN count(jac) > 0
        |  THEN round(CAST(sum(CASE WHEN jac IS NOT NULL AND min_band < bands
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(jac) + 1e-9, 6)
        |  ELSE 0.0 END AS recall
        |FROM grid LEFT JOIN sc ON jac >= threshold
        |GROUP BY bands, threshold)
        |SELECT bands, threshold, n_true, n_hit, recall,
        |COALESCE(bands = min(CASE WHEN recall >= $MultibandRecallBar THEN bands END)
        |  OVER (PARTITION BY threshold), FALSE) AS recommended
        |FROM cells ORDER BY bands, threshold""").stripMargin,
    "x_dedup_threshold_curve" ->
      (s"WITH p AS ($MinhashPairsSql),\n" +
        """b AS (SELECT CAST(floor(jaccard * 10 + 1e-9) AS INTEGER) AS bin,
        |  count(*) AS n_pairs FROM p GROUP BY 1)
        |SELECT bin, round(bin / 10.0 + 1e-9, 1) AS threshold, n_pairs,
        |CAST(sum(n_pairs) OVER (ORDER BY bin DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS n_at_or_above
        |FROM b ORDER BY bin""".stripMargin),
    "x_dedup_incremental" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM t),
        |sig AS (SELECT doc_id, sh,
        |  list_min(list_transform(sh, x -> substring(md5(x), 1, 8))) AS b0 FROM sh),
        |h AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |ex AS (SELECT n.doc_id, count(*) AS n_exact FROM h n JOIN h c
        |  ON n.fp = c.fp AND n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 GROUP BY 1),
        |nr AS (SELECT a.doc_id, count(*) AS n_near
        |  FROM sig a JOIN sig b ON a.b0 = b.b0
        |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)), 4) >= 0.5
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
        |CAST(COALESCE(n_near, 0) AS BIGINT) AS n_near,
        |CASE WHEN COALESCE(n_exact, 0) > 0 THEN 'exact'
        |     WHEN COALESCE(n_near, 0) > 0 THEN 'near'
        |     ELSE 'unique' END AS status
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "x_dedup_exact" ->
      """SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Truth via the inverted index (any Jaccard>0 pair shares a shingle),
    // df-capped at 100 on BOTH sides (the 100 TB bound, mirrored);
    // candidates via the same band-0 min-hash as x_minhash_pairs.
    "x_lsh_recall" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM t),
        |ds0 AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |rare AS (SELECT shingle FROM ds0 GROUP BY shingle HAVING count(*) <= 100),
        |ds AS (SELECT doc_id, shingle FROM ds0 JOIN rare USING (shingle)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT doc_a, doc_b,
        |  round(CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni), 4) AS jac
        |  FROM inter JOIN sz sa ON sa.doc_id = doc_a
        |  JOIN sz sb ON sb.doc_id = doc_b),
        |sig AS (SELECT doc_id,
        |  list_min(list_transform(sh, x -> substring(md5(x), 1, 8))) AS b0 FROM sh),
        |cand AS (SELECT a.doc_id AS c_a, b.doc_id AS c_b, 1 AS cand_hit
        |  FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.doc_id < b.doc_id),
        |sc AS (SELECT jac, COALESCE(cand_hit, 0) AS cand_hit FROM truth
        |  LEFT JOIN cand ON doc_a = c_a AND doc_b = c_b),
        |th AS (SELECT CAST(unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS threshold)
        |SELECT threshold, CAST(count(jac) AS BIGINT) AS n_true,
        |CAST(sum(CASE WHEN jac IS NULL THEN 0 ELSE cand_hit END) AS BIGINT) AS n_hit,
        |CASE WHEN count(jac) > 0
        |  THEN round(CAST(sum(CASE WHEN jac IS NULL THEN 0 ELSE cand_hit END) AS DOUBLE)
        |    / count(jac) + 1e-9, 6)
        |  ELSE 0.0 END AS recall
        |FROM th LEFT JOIN sc ON jac >= threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin,
    "x_minhash_signatures" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t)
        |SELECT doc_id,
        |list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 1, 8))) AS sig0,
        |list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 9, 8))) AS sig1,
        |list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 17, 8))) AS sig2,
        |list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 25, 8))) AS sig3
        |FROM sh ORDER BY doc_id""".stripMargin,
    "x_minhash_pairs" -> MinhashPairsSql,
    "x_containment_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t),
        |sig AS (SELECT doc_id, sh,
        |  list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 1, 8))) AS band FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |round(CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
        |  / len(list_distinct(a.sh)), 4) AS cont_a,
        |round(CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
        |  / len(list_distinct(b.sh)), 4) AS cont_b
        |FROM sig a JOIN sig b ON a.band = b.band AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_minhash_pairs_2band" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(toks)-1, 2)),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh FROM t),
        |sig AS (SELECT doc_id, sh,
        |  list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 1, 8))) AS b0,
        |  list_min(list_transform(list_distinct(sh), x -> substring(md5(x), 9, 8))) AS b1 FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |round(CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh))) AS DOUBLE)
        |  / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.b1 = b.b1 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Mirrors the df-capped (lang, bucket, gram) blocking exactly, then
    // exact Jaccard on the candidate pairs' full bigram sets.
    "x_jaccard_ngram" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
        |f AS (SELECT * FROM t WHERE len(toks) >= 2),
        |b AS (SELECT doc_id, lang, CAST(floor(len(toks) / 20) AS BIGINT) AS bucket,
        |  list_distinct(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM f),
        |g AS (SELECT lang, bucket, doc_id, unnest(bg) AS g FROM b),
        |p AS (SELECT lang, bucket, g FROM g GROUP BY lang, bucket, g
        |  HAVING count(*) BETWEEN 2 AND 50),
        |gg AS (SELECT g.* FROM g JOIN p USING (lang, bucket, g)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM gg a JOIN gg b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.g = b.g AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |round(CAST(len(list_intersect(a.bg, b2.bg)) AS DOUBLE)
        |  / len(list_distinct(a.bg || b2.bg)), 4) AS jaccard
        |FROM cand JOIN b a ON a.doc_id = doc_a JOIN b b2 ON b2.doc_id = doc_b
        |WHERE round(CAST(len(list_intersect(a.bg, b2.bg)) AS DOUBLE)
        |  / len(list_distinct(a.bg || b2.bg)), 4) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Uncapped truth within the same (lang, bucket) blocking, min_df per
    // pair, then the (df_cap x threshold) recall grid — mirrors
    // jaccardTruthPairs + xJaccardRecall exactly, ceiling included.
    "x_jaccard_recall" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
        |f AS (SELECT * FROM t WHERE len(toks) >= 2),
        |b AS (SELECT doc_id, lang, CAST(floor(len(toks) / 20) AS BIGINT) AS bucket,
        |  list_distinct(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg FROM f),
        |g AS (SELECT lang, bucket, doc_id, len(bg) AS n_bg, unnest(bg) AS g FROM b),
        |p AS (SELECT lang, bucket, g, CAST(count(*) AS BIGINT) AS df FROM g
        |  GROUP BY lang, bucket, g HAVING count(*) BETWEEN 2 AND 10000),
        |gg AS (SELECT g.lang, g.bucket, g.g, g.doc_id, g.n_bg, p.df
        |  FROM g JOIN p USING (lang, bucket, g)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.n_bg AS n_a, b.n_bg AS n_b, count(*) AS ni, min(a.df) AS min_df
        |  FROM gg a JOIN gg b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |truth AS (SELECT doc_a, doc_b,
        |  round(CAST(ni AS DOUBLE) / (n_a + n_b - ni), 4) AS jac, min_df
        |  FROM pairs WHERE round(CAST(ni AS DOUBLE) / (n_a + n_b - ni), 4) >= 0.3),
        |grid AS (SELECT df_cap, threshold FROM
        |  (SELECT CAST(unnest([25, 50, 100]) AS BIGINT) AS df_cap),
        |  (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS threshold))
        |SELECT df_cap, threshold, CAST(count(jac) AS BIGINT) AS n_true,
        |CAST(sum(CASE WHEN jac IS NOT NULL AND min_df <= df_cap
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |CASE WHEN count(jac) > 0
        |  THEN round(CAST(sum(CASE WHEN jac IS NOT NULL AND min_df <= df_cap
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(jac) + 1e-9, 6)
        |  ELSE 0.0 END AS recall
        |FROM grid LEFT JOIN truth ON jac >= threshold
        |GROUP BY df_cap, threshold ORDER BY df_cap, threshold""".stripMargin,
    // Mirrors the q-gram blocking exactly (same df cap), then exact
    // levenshtein — DuckDB and Spark implement the same classic DP metric.
    "x_edit_pairs" ->
      """WITH t AS (SELECT doc_id, substring(text, 1, 30) AS title FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(title) - 7, 1) + 1),
        |  i -> substring(title, i, 8)))) AS gram FROM t),
        |df AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 50),
        |gg AS (SELECT g.* FROM g JOIN df USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |CAST(levenshtein(ta.title, tb.title) AS INT) AS dist
        |FROM cand JOIN t ta ON ta.doc_id = doc_a JOIN t tb ON tb.doc_id = doc_b
        |WHERE levenshtein(ta.title, tb.title) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Same blocked sorted-neighborhood construction: 2-char block, rank
    // window w=3, prefix-32 levenshtein. row_number ties broken by doc_id
    // in both engines, so ranks — hence candidate pairs — are identical.
    "x_snm_pairs" ->
      """WITH t AS (SELECT doc_id, substr(lower(text), 1, 24) AS k,
        |  substr(lower(text), 1, 32) AS p32 FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, k, p32, substr(k, 1, 2) AS block,
        |  row_number() OVER (PARTITION BY substr(k, 1, 2) ORDER BY k, doc_id) AS rn
        |  FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |CAST(levenshtein(a.p32, b.p32) AS INT) AS dist
        |FROM r a JOIN r b ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 3
        |WHERE levenshtein(a.p32, b.p32) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    "x_repeated_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |d AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, n_tokens, i AS pos,
        |  md5(array_to_string(toks[i:i+7], ' ')) AS gram
        |  FROM d, unnest(range(1, n_tokens - 8 + 2)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY 1 HAVING min(doc_id) <> max(doc_id)),
        |ds AS (SELECT g.doc_id, g.n_tokens, g.pos FROM g JOIN dup USING (gram)),
        |cov AS (SELECT doc_id, n_tokens, pos, p
        |  FROM ds, unnest(range(pos, pos + 8)) AS v(p))
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |count(DISTINCT pos) AS n_dup_spans,
        |count(DISTINCT p) AS covered_tokens,
        |round(CAST(count(DISTINCT p) AS DOUBLE) / n_tokens, 6) AS dup_ratio
        |FROM cov GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
    "x_kmv_sketch" -> KmvOracleSql,
    "x_kmv_native" -> KmvOracleSql, // native aggregate, identical sketch
    // boundary hash from the first 4 md5 hex chars: exact 16-bit nibble
    // arithmetic, same convention as the Spark conv() side
    "x_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok,
        |  CASE WHEN i = 1 THEN NULL ELSE toks[i-1] END AS prev
        |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
        |f AS (SELECT doc_id, pos, tok,
        |  CASE WHEN prev IS NOT NULL AND
        |    CAST(list_sum(list_transform(range(1, 5), j ->
        |      CAST(strpos('0123456789abcdef',
        |        substring(md5(prev || ' ' || tok), j, 1)) - 1 AS DOUBLE)
        |        * 16 ** (4 - j))) AS BIGINT) % 32 = 0
        |    THEN 1 ELSE 0 END AS bnd FROM tok),
        |c AS (SELECT doc_id, pos, tok,
        |  sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS chunk FROM f),
        |ch AS (SELECT doc_id, chunk,
        |  md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
        |  count(*) AS n_toks FROM c GROUP BY 1, 2),
        |dup AS (SELECT h, 1 AS is_dup FROM ch GROUP BY h
        |  HAVING min(doc_id) <> max(doc_id))
        |SELECT doc_id, count(*) AS n_chunks,
        |CAST(sum(COALESCE(is_dup, 0)) AS BIGINT) AS n_dup_chunks,
        |round(avg(n_toks) + 1e-9, 2) AS avg_chunk_toks,
        |round(CAST(sum(COALESCE(is_dup, 0)) AS DOUBLE) / count(*) + 1e-9, 6)
        |  AS dup_chunk_ratio
        |FROM ch LEFT JOIN dup USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // v_k from the first 8 md5 hex chars via exact nibble arithmetic
    // (every intermediate < 2^32, so the DOUBLE math matches Spark's conv).
    "x_kmv_setops" ->
      """WITH t AS (SELECT source, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks)-1, 2)),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle
        |  FROM t),
        |sk AS (SELECT source,
        |  list_sort(list_distinct(list(md5(shingle))))[1:64] AS kmv
        |  FROM sh GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |  a.kmv AS ka, b.kmv AS kb,
        |  list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS merged
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |e AS (SELECT source_a, source_b, len(merged) AS k_used,
        |  CASE WHEN len(merged) < 64 THEN CAST(len(merged) AS DOUBLE)
        |    ELSE 63.0 / (list_sum(list_transform(range(1, 9), j ->
        |      CAST(strpos('0123456789abcdef', substring(merged[64], j, 1)) - 1
        |        AS DOUBLE) * 16 ** (8 - j))) / 4294967296.0) END AS union_est,
        |  CAST(len(list_filter(merged, x ->
        |    list_contains(ka, x) AND list_contains(kb, x))) AS DOUBLE)
        |    / len(merged) AS jac
        |  FROM p)
        |SELECT source_a, source_b, CAST(k_used AS INT) AS k_used,
        |round(union_est + 1e-9, 2) AS union_est,
        |round(union_est * jac + 1e-9, 2) AS inter_est,
        |round(jac + 1e-9, 6) AS jaccard_est
        |FROM e ORDER BY source_a, source_b""".stripMargin,
    "x_simhash_md5" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |bits AS (SELECT doc_id, $SimhashMd5BitsSql FROM toks GROUP BY doc_id)
         |SELECT doc_id, $SimhashMd5HexSql AS simhash_hex
         |FROM bits ORDER BY doc_id""".stripMargin,
    "x_simhash_pairs_md5" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |bits AS (SELECT doc_id, $SimhashMd5BitsSql FROM toks GROUP BY doc_id),
         |hx AS (SELECT doc_id, $SimhashMd5HexSql AS hx FROM bits),
         |bands AS (SELECT doc_id, hx, substring(hx, 1, 4) AS b0,
         |  substring(hx, 5, 4) AS b1, substring(hx, 9, 4) AS b2,
         |  substring(hx, 13, 4) AS b3 FROM hx),
         |pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.hx AS ha, y.hx AS hb
         |  FROM bands x JOIN bands y ON x.doc_id < y.doc_id AND
         |    (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3))
         |SELECT doc_a, doc_b, CAST($SimhashMd5HammingSql AS BIGINT) AS hamming
         |FROM pr WHERE $SimhashMd5HammingSql <= 16
         |ORDER BY doc_a, doc_b""".stripMargin
    // x_simhash / x_simhash_pairs: xxhash64-based perf path — driver records
    // rows-only; pinned by ExtSpec properties AND by the md5 oracle twins
    // above, which share the construction end-to-end.
  )

}
