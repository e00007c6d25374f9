package graft.ext

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pure-SQL face of the library: the same analytics a DataFrame user
  * gets, driven end-to-end through `spark.sql(...)` with graft's custom
  * Catalyst expressions available as plain SQL functions (registered by
  * [[graft.plans.GraftExtensions]] at session build, or imperatively by the
  * `register` helpers for a pre-existing session, as here — the driver owns
  * the session). This is the surface a BI tool / notebook user of the
  * reference's assessment layer would actually touch: no Scala, no Column
  * API, just views + SQL over them.
  */
object SqlSurface {

  type Q = (SparkSession, String) => DataFrame

  /** All-pairs cosine over a bounded query window (vec_id < 32 of the
    * valid-embedding subset, [[Similarity.emb]]), written in SQL against a
    * temp view with the fused native `cosine_sim` — proves the codegen
    * Expression resolves through the SQL parser/analyzer path, not only
    * through `Column`. The plan is the same broadcast-light self-join the
    * DataFrame variants compile to. Threshold 0.1 keeps ~100 of the 496
    * pairs at every shipped sf (the synthetic embeddings top out near 0.37
    * cosine), so the check is value-bearing, never vacuous. */
  def xSqlCosinePairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    Similarity.emb(s, dir)
      .filter(col("vec_id") < 32)
      .select(col("vec_id"), col("v"))
      .createOrReplaceTempView("graft_emb32")
    s.sql("""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(cosine_sim(a.v, b.v), 6) AS cosine
      FROM graft_emb32 a JOIN graft_emb32 b ON a.vec_id < b.vec_id
      WHERE cosine_sim(a.v, b.v) >= 0.1
      ORDER BY vec_a, vec_b""")
  }

  /** The KMV bottom-k sketch invoked as a SQL aggregate function over an
    * exploded shingle view — the TypedImperativeAggregate working inside a
    * GROUP BY written by a SQL user. Identical sketch (and oracle) to the
    * Column-API [[Dedup.xKmvNative]]. */
  def xSqlKmv(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BottomKNative.register(s)
    Grams.shingleRows(Tables.load(s, dir, "documents"))
      .createOrReplaceTempView("graft_shingles")
    s.sql("""
      SELECT doc_id, bottom_k(md5(shingle), 8) AS kmv
      FROM graft_shingles
      GROUP BY doc_id
      ORDER BY doc_id""")
  }

  /** Misra–Gries heavy hitters over a skewed key stream, driven through
    * SQL. The key render concentrates half the events on 4 hot keys (each
    * ≈ N/8 of the stream) and scatters the rest across near-unique cold
    * keys — the classic top-talkers shape where a full groupBy's key
    * domain is unbounded but the sketch state is 16 counters. The output
    * asserts the MG guarantee per hot key (present, and
    * `exact − N/(k+1) ≤ est ≤ exact`), which is merge-order-independent —
    * the `x_ndv_sketch` idiom, since surviving low-count counters may vary
    * with partition order. On the standard corpus hot keys carry
    * ≈ N/8 > N/17, so every verdict bit fires; on a SKEWED corpus (one
    * user owning 90% of events) the other hot keys fall below N/17 where
    * MG makes no promise — those rows report NULL verdicts via the
    * `n_exact * 17 > n_total` gate instead of a merge-order coin flip. */
  /** The skewed key stream shared by [[xHeavyHitters]] and the streaming
    * round trip ([[graft.capture.CaptureDemo]] `cap_stream_topk`): half the
    * events on 4 hot keys, the rest near-unique. */
  private[graft] def hotColdKeys(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull && col("user_id").isNotNull)
      .select(when(col("event_id") % 2 === 0,
        concat(lit("hot_"), (col("user_id") % 4).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
        .as("key"))

  /** Full exact (key, n_exact) counts joined against a (key, est) sketch
    * frame: per hot key, presence and the MG guarantee
    * `n_exact − N/(k+1) ≤ est ≤ n_exact` (N = all keys' total).
    *
    * The verdict bits are GATED on the guarantee: MG only promises
    * survival for keys with count > N/(k+1) ([[graft.functions.
    * FreqSketchMG]]'s contract — below that, survivorship depends on
    * partition/merge order, so `found`/`est_ok` would be
    * nondeterministic). Sub-threshold hot keys report NULL: still listed
    * with their exact count, but the sketch makes no claim about them.
    * Integer form `n_exact * (k+1) > n_all` avoids float-division
    * divergence between engines. */
  private[graft] def hotKeyVerdict(exact: DataFrame, est: DataFrame,
                                   k: Int): DataFrame = {
    val total = exact.agg(sum("n_exact").as("n_all"))
    val hot = exact.filter(col("key").startsWith("hot"))
    val guaranteed = col("n_exact") * (k + 1) > col("n_all")
    hot.join(est, Seq("key"), "left")
      .crossJoin(broadcast(total))
      .select(col("key"), col("n_exact"),
        when(guaranteed, col("est").isNotNull).as("found"),
        when(guaranteed,
          col("est").isNotNull && col("est") <= col("n_exact") &&
            col("est") >= col("n_exact") - (col("n_all") / (k + 1)).cast("long"))
          .as("est_ok"))
      .orderBy("key")
  }

  def xHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.FreqSketchMG.register(s)
    hotColdKeys(s, dir).createOrReplaceTempView("graft_hh_keys")
    s.sql("""
      WITH sk AS (SELECT freq_sketch(key, 16) AS m FROM graft_hh_keys),
      tot AS (SELECT count(*) AS n_total FROM graft_hh_keys),
      est AS (SELECT explode(m) AS (key, est) FROM sk),
      hot AS (SELECT key, count(*) AS n_exact FROM graft_hh_keys
              WHERE key LIKE 'hot%' GROUP BY key)
      SELECT hot.key, hot.n_exact,
             CASE WHEN hot.n_exact * 17 > tot.n_total
                  THEN est.est IS NOT NULL END AS found,
             CASE WHEN hot.n_exact * 17 > tot.n_total
                  THEN (est.est IS NOT NULL AND est.est <= hot.n_exact AND
                        est.est >= hot.n_exact
                          - CAST(tot.n_total / 17 AS BIGINT)) END AS est_ok
      FROM hot CROSS JOIN tot LEFT JOIN est ON hot.key = est.key
      ORDER BY hot.key""")
  }

  /** Per-GROUP heavy hitters — the sketch inside a GROUP BY (one k-counter
    * buffer PER statement kind, the top-talkers-per-queue shape): each
    * kind's stream carries the same 4 hot keys at ≈ N_kind/8, so the MG
    * guarantee holds within every group independently. Verdict rows are
    * (kind × hot key)-bounded with the per-group error budget
    * `N_kind/(k+1)`; bits below the per-group threshold report NULL (same
    * guarantee gate as [[xHeavyHitters]], per group). */
  def xHeavyHittersGrouped(s: SparkSession, dir: String): DataFrame = {
    graft.functions.FreqSketchMG.register(s)
    Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"),
        when(col("event_id") % 2 === 0,
          concat(lit("hot_"), (col("user_id") % 4).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("key"))
      .createOrReplaceTempView("graft_hhg_keys")
    s.sql("""
      WITH sk AS (SELECT event_type, freq_sketch(key, 16) AS m
                  FROM graft_hhg_keys GROUP BY event_type),
      tot AS (SELECT event_type, count(*) AS n_kind
              FROM graft_hhg_keys GROUP BY event_type),
      est AS (SELECT event_type, explode(m) AS (key, est) FROM sk),
      hot AS (SELECT event_type, key, count(*) AS n_exact
              FROM graft_hhg_keys WHERE key LIKE 'hot%'
              GROUP BY event_type, key)
      SELECT hot.event_type, hot.key, hot.n_exact,
             CASE WHEN hot.n_exact * 17 > tot.n_kind
                  THEN est.est IS NOT NULL END AS found,
             CASE WHEN hot.n_exact * 17 > tot.n_kind
                  THEN (est.est IS NOT NULL AND est.est <= hot.n_exact AND
                        est.est >= hot.n_exact
                          - CAST(tot.n_kind / 17 AS BIGINT)) END AS est_ok
      FROM hot JOIN tot ON hot.event_type = tot.event_type
      LEFT JOIN est
        ON hot.event_type = est.event_type AND hot.key = est.key
      ORDER BY hot.event_type, hot.key""")
  }

  val queries: Map[String, Q] = Map(
    "x_sql_cosine_pairs" -> xSqlCosinePairs,
    "x_sql_kmv" -> xSqlKmv,
    "x_heavy_hitters" -> xHeavyHitters,
    "x_heavy_hitters_grouped" -> xHeavyHittersGrouped
  )

  val oracles: Map[String, String] = Map(
    "x_sql_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id < 32 AND embedding IS NOT NULL
        |  AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(sim, 6) AS cosine
        |FROM p WHERE sim >= 0.1 ORDER BY vec_a, vec_b""".stripMargin,
    // Identical sketch to the Column-API form — shares its oracle.
    "x_sql_kmv" -> Dedup.oracles("x_kmv_sketch"),
    // The oracle recomputes the exact hot-key counts; above the MG
    // threshold (n_exact * 17 > N) `found`/`est_ok` are literal true
    // because there the guarantee is unconditional; below it the sketch
    // makes no claim and both engines must emit NULL.
    // Per-group form: exact hot counts per kind, per-group threshold.
    "x_heavy_hitters_grouped" ->
      """WITH keyed AS (SELECT event_type, CASE WHEN event_id % 2 = 0
        |  THEN 'hot_' || CAST(user_id % 4 AS VARCHAR)
        |  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND user_id IS NOT NULL),
        |tot AS (SELECT event_type, count(*) AS n_kind FROM keyed
        |        GROUP BY event_type),
        |hot AS (SELECT event_type, key, count(*) AS n_exact FROM keyed
        |        WHERE key LIKE 'hot%' GROUP BY event_type, key)
        |SELECT hot.event_type, hot.key, hot.n_exact,
        |CASE WHEN hot.n_exact * 17 > tot.n_kind THEN true END AS found,
        |CASE WHEN hot.n_exact * 17 > tot.n_kind THEN true END AS est_ok
        |FROM hot JOIN tot ON hot.event_type = tot.event_type
        |ORDER BY hot.event_type, hot.key""".stripMargin,
    "x_heavy_hitters" ->
      """WITH keyed AS (SELECT CASE WHEN event_id % 2 = 0
        |  THEN 'hot_' || CAST(user_id % 4 AS VARCHAR)
        |  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND user_id IS NOT NULL),
        |tot AS (SELECT count(*) AS n_total FROM keyed),
        |hot AS (SELECT key, count(*) AS n_exact FROM keyed
        |        WHERE key LIKE 'hot%' GROUP BY key)
        |SELECT key, n_exact,
        |CASE WHEN n_exact * 17 > n_total THEN true END AS found,
        |CASE WHEN n_exact * 17 > n_total THEN true END AS est_ok
        |FROM hot CROSS JOIN tot ORDER BY key""".stripMargin
  )
}
