package graft.ext

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY.md §2.3): language stats, quality scoring, token counting,
  * fingerprinting. All narrow, codegen-friendly column expressions over
  * `documents` — at 100 TB these run as pure map stages with the single
  * aggregate shuffle at the end where one exists.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  private val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokenization: letter runs | digit runs | single
    * non-alphanumeric glyph (so CJK text counts per-character, roughly how a
    * byte-level BPE fragments it). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Quality metrics per document: whitespace token count, chars/token,
    * stopword ratio. */
  def qualityMetrics(df: DataFrame): DataFrame =
    // token array projected once by name — composing tokens(text) inline
    // clones the split into every metric (see SqlSurface.xSqlKmv)
    df.select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        round(col("n_chars").cast("double") / size(col("toks")), 4)
          .as("chars_per_token"),
        round(size(filter(col("toks"), t => t.isin(Stopwords: _*)))
          .cast("double") / size(col("toks")), 4).as("stopword_ratio"))

  /** Rolling-hash-style document fingerprint: md5 of the full text (content
    * address; exact-dup key). */
  def fingerprint(text: Column): Column = md5(text)

  /** Heuristic language ID from character classes — a stand-in for an n-gram
    * profile model: CJK chars → zh, accented Latin split by marker chars,
    * else en. Deterministic and cheap (one regexp pass per class). */
  def langGuess(text: Column): Column = {
    def has(re: String) = length(regexp_extract(text, re, 0)) > 0
    when(has("[\\u4e00-\\u9fff]"), "zh")
      .when(has("[ñ¿¡]"), "es")
      .when(has("[äöüß]"), "de")
      .when(has("[àâçèêëîïôùûœ]"), "fr")
      .otherwise("en")
  }

  // ---- oracle-checked queries ------------------------------------------

  def xLangStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars") + lit(1e-9), 4).as("avg_chars"),
        sum(size(tokens(col("text")))).as("total_tokens"))
      .orderBy("lang")

  def xTextQuality(s: SparkSession, dir: String): DataFrame =
    qualityMetrics(Tables.load(s, dir, "documents")).orderBy("doc_id")

  def xTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Normalization pipeline (the canonicalization step before exact dedup):
    * lowercase → strip non-alphanumerics → collapse whitespace → trim, plus
    * the content hash of the normal form. */
  def xDocNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), length(norm).as("norm_len"),
        md5(norm).as("norm_fp"))
      .orderBy("doc_id")
  }

  /** Language-ID accuracy vs. the labeled `lang` column — exercises the
    * heuristic classifier end-to-end and aggregates a confusion summary. */
  def xLangIdConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("lang"), langGuess(col("text")).as("guess"))
      .groupBy("lang", "guess")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")

  /** Unigram log-probability quality score — the cheap stand-in for
    * LM-perplexity filtering: per doc, the mean ln p(token) under the
    * corpus unigram distribution. Rare-token-heavy (low-quality or
    * off-domain) documents score low. Two aggregates + one join on the
    * token key; the vocabulary is never collected or broadcast. */
  def xUnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // corpus token total as a one-row broadcast aggregate INSIDE the plan —
    // not a driver-side .count(), which would run an extra full tokenize
    // pass eagerly at plan-construction time
    val total = toks.agg(count(lit(1)).cast("double").as("n_tok_total"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("n_tok"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("n_tok") / col("n_tok_total"))).as("m"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("m") + lit(1e-9), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** Per-doc mean bigram log-probability under an add-one-smoothed corpus
    * bigram model: ln((count(a b) + 1) / (count(a) + |V|)) averaged over a
    * document's adjacent token pairs — the step up from
    * [[xUnigramLogprob]]'s context-free scoring, and the classic cheap
    * LM-quality filter (incoherent token order scores low even when every
    * word is common). Counts are corpus-wide groupBys on the bigram /
    * unigram key (vocabulary-sized, partial-aggregated, never collected);
    * |V| rides along as a one-row broadcast aggregate. Single-token docs
    * have no bigrams and are excluded on both sides. */
  def xBigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    // OOB-safe bigram build (see Dedup.xJaccardNgram: the inferred
    // explode pre-filter evaluates this on rows the size>=2 filter
    // removes; never descend the sequence, tolerate the end lookahead)
    val bigrams = docs.select(col("doc_id"),
      explode(transform(
        sequence(lit(1), greatest(size(col("toks")) - 1, lit(1))),
        i => concat_ws(" ",
          element_at(col("toks"), i), try_element_at(col("toks"), i + 1))))
        .as("bg"))
    val toks = Tables.load(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n_uni"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v_size"))
    val bgCounts = bigrams.groupBy("bg").agg(count(lit(1)).as("n_bg"))
    bigrams
      .join(bgCounts, "bg")
      .withColumn("tok", substring_index(col("bg"), " ", 1))
      .join(uni, "tok")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log((col("n_bg") + 1) / (col("n_uni") + col("v_size")))).as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("m") + lit(1e-9), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  /** Per-doc Shannon entropy of the character distribution — the gibberish
    * / encoding-junk detector of the quality family: natural prose sits in a
    * tight entropy band, while base64 blobs, repeated padding, and binary
    * spills leave it. Algebraically H = ln(n) - (Σ c·ln c)/n over per-char
    * counts c, so one explode + two partial-aggregating groupBys suffice —
    * no per-doc maps, no collection, alphabet-sized shuffle keys. */
  def xCharEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      // split('', '') is [""] in Spark but [] in DuckDB — exclude empty
      // docs identically on both sides so the engines can't diverge on
      // corpora that contain them. (Counts are code units, not grapheme
      // clusters, on both engines — consistent for the shared corpus.)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), sum(col("c") * log(col("c"))).as("sclc"))
      .select(col("doc_id"), col("n").as("n_chars"),
        round(log(col("n")) - col("sclc") / col("n") + lit(1e-9), 4)
          .as("char_entropy"))
      .orderBy("doc_id")

  /** PII redaction (the scrub step before training): emails, IPv4s and
    * long digit runs replaced by placeholder tags; emits per-doc match
    * counts and the content hash of the redacted text so the replacement
    * itself is verified, not just counted. Pure narrow map stage. */
  def xRedactPii(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phoneRe = "\\b\\d{7,}\\b"
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<NUM>")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .as("n_nums"),
        md5(redacted).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition score — the repeated-n-gram quality filter
    * (per Rae et al., "Scaling Language Models" 2021 §A1.3.3: docs whose
    * duplicate n-gram fraction is high are templated/spammy and get
    * filtered before training): rep_ratio = 1 - distinct/total over
    * POSITIONAL token trigrams. Pure per-doc narrow map — at 100 TB this
    * is a free rider on the corpus scan, no shuffle but the presentation
    * sort. Docs under 3 tokens can't form a trigram and are excluded
    * identically on both engines. */
  def xRepetition(s: SparkSession, dir: String): DataFrame = {
    // Dedup.shingles' clamped bounds keep the projection safe even if a
    // plan rewrite evaluates it before the size >= 3 filter.
    val tri = Dedup.shingles(col("toks"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"), tri.as("tri"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("tri")).cast("bigint").as("n_trigrams"),
        size(array_distinct(col("tri"))).cast("bigint").as("n_distinct"),
        // +1e-9: distinct/total lands exactly on half-boundaries (small
        // trigram counts), where Spark and DuckDB round oppositely.
        round(lit(1.0) - size(array_distinct(col("tri"))).cast("double") /
          size(col("tri")) + lit(1e-9), 4).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Explainable per-document quality gate: every doc gets a verdict —
    * `keep`, or the FIRST failing reason in precedence order (`too_short`,
    * `repetitive`, `low_stopword`) — the reason-coded filter a curation run
    * reports to its operators, not just a boolean. One fused narrow
    * projection, no shuffle at any scale; thresholds compare raw
    * integer-derived doubles (identical IEEE division on both engines), so
    * no rounding epsilon is needed. The stopword floor applies to English
    * only — the list is English; gating other languages on it would flag
    * the whole non-English corpus. */
  def xQualityGate(s: SparkSession, dir: String, minTokens: Int = 20,
                   maxRep: Double = 0.2, minStop: Double = 0.05): DataFrame = {
    val nTok = size(col("toks"))
    val tri = Dedup.shingles(col("toks"))
    val repRatio =
      lit(1.0) - size(array_distinct(tri)).cast("double") / size(tri)
    val stopRatio =
      size(filter(col("toks"), t => t.isin(Stopwords: _*))).cast("double") /
        nTok
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tokens"),
        when(col("toks").isNull || nTok < minTokens, "too_short")
          .when(repRatio > maxRep, "repetitive")
          .when(col("lang") === "en" && stopRatio < minStop, "low_stopword")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** Soft quality score — the linear-classifier stage of model-based
    * filtering (the fasttext/CCNet-style gate, distilled to a deterministic
    * linear proxy so both engines reproduce it bit-for-bit): a fixed
    * weighted sum of stopword ratio, type-token ratio, length saturation,
    * and chars-per-token centering. Unlike [[xQualityGate]]'s hard
    * precedence rules this is a continuous score a pipeline thresholds or
    * buckets; the verdict compares the ROUNDED score so the cut is
    * identical across engines. Pure narrow map over the corpus — a free
    * rider on the scan at any scale. Weights are stand-ins for a trained
    * model's; the plumbing (features → dot product → threshold) is the
    * real artifact. */
  def xQualityScore(s: SparkSession, dir: String,
                    threshold: Double = 0.3): DataFrame = {
    val nTok = size(col("toks"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        (size(filter(col("toks"), t => t.isin(Stopwords: _*)))
          .cast("double") / nTok).as("stop_ratio"),
        (size(array_distinct(col("toks"))).cast("double") / nTok).as("ttr"),
        least(lit(1.0), nTok / lit(500.0)).as("len_norm"),
        (col("n_chars").cast("double") / nTok).as("cpt"))
      .select(col("doc_id"),
        round(lit(0.35) * col("stop_ratio") + lit(0.35) * col("ttr")
          + lit(0.2) * col("len_norm")
          + lit(0.1) * (lit(1.0) -
            least(lit(1.0), abs(col("cpt") - 5) / lit(5.0)))
          + lit(1e-9), 4).as("score"))
      .select(col("doc_id"), col("score"),
        when(col("score") >= threshold, "keep").otherwise("drop")
          .as("verdict"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "x_quality_gate" -> ((s, dir) => xQualityGate(s, dir)),
    "x_quality_score" -> ((s, dir) => xQualityScore(s, dir)),
    "x_repetition" -> xRepetition,
    "x_unigram_logprob" -> xUnigramLogprob,
    "x_bigram_logprob" -> xBigramLogprob,
    "x_char_entropy" -> xCharEntropy,
    "x_redact_pii" -> xRedactPii,
    "x_lang_stats" -> xLangStats,
    "x_text_quality" -> xTextQuality,
    "x_token_count" -> xTokenCount,
    "x_doc_normalize" -> xDocNormalize,
    "x_langid_confusion" -> xLangIdConfusion
  )

  val oracles: Map[String, String] = Map(
    "x_quality_score" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x IN
        |    ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
        |    / len(toks) AS stop_ratio,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |  least(1.0, len(toks) / 500.0) AS len_norm,
        |  CAST(n_chars AS DOUBLE) / len(toks) AS cpt FROM t),
        |sc AS (SELECT doc_id,
        |  round(0.35 * stop_ratio + 0.35 * ttr + 0.2 * len_norm
        |    + 0.1 * (1.0 - least(1.0, abs(cpt - 5) / 5.0)) + 1e-9, 4) AS score
        |  FROM f)
        |SELECT doc_id, score,
        |CASE WHEN score >= 0.3 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM sc ORDER BY doc_id""".stripMargin,
    "x_quality_gate" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, lang, len(toks) AS n_tok,
        |  list_transform(range(1, greatest(len(toks)-1, 2)),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tri,
        |  CAST(len(list_filter(toks, x -> x IN
        |    ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
        |    / len(toks) AS stop_ratio
        |  FROM t)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tokens,
        |CASE WHEN n_tok IS NULL OR n_tok < 20 THEN 'too_short'
        |     WHEN 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri) > 0.2
        |       THEN 'repetitive'
        |     WHEN lang = 'en' AND stop_ratio < 0.05 THEN 'low_stopword'
        |     ELSE 'keep' END AS verdict
        |FROM m ORDER BY doc_id""".stripMargin,
    "x_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
        |tri AS (SELECT doc_id, len(toks) AS n_tokens,
        |  list_transform(range(1, len(toks) - 1),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tri FROM f)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |CAST(len(tri) AS BIGINT) AS n_trigrams,
        |CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
        |round(1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE) + 1e-9, 4) AS rep_ratio
        |FROM tri ORDER BY doc_id""".stripMargin,
    "x_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS total FROM toks),
        |f AS (SELECT tok, count(*) AS n_tok FROM toks GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |round(avg(ln(n_tok / CAST(total AS DOUBLE))) + 1e-9, 4) AS mean_logprob
        |FROM toks JOIN f USING (tok), n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |  i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS n_uni FROM uni GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v_size FROM uc),
        |bc AS (SELECT bg, count(*) AS n_bg FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |round(avg(ln((n_bg + 1) / (n_uni + v_size))) + 1e-9, 4) AS mean_logprob
        |FROM bg JOIN bc USING (bg)
        |JOIN uc ON uc.tok = split_part(bg.bg, ' ', 1), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE len(text) > 0),
        |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |ag AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS sclc FROM cc GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |round(ln(n) - sclc / n + 1e-9, 4) AS char_entropy
        |FROM ag ORDER BY doc_id""".stripMargin,
    "x_redact_pii" ->
      """SELECT doc_id,
        |len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |len(regexp_extract_all(text, '\b\d{7,}\b')) AS n_nums,
        |md5(regexp_replace(regexp_replace(regexp_replace(text,
        |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\b\d{7,}\b', '<NUM>', 'g')) AS redacted_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars) + 1e-9,4) AS avg_chars,
        |CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_text_quality" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        |round(CAST(n_chars AS DOUBLE)/len(string_split(text,' ')),4) AS chars_per_token,
        |round(CAST(len(list_filter(string_split(text,' '),
        |  t -> t IN ('the','a','of','and','to','in','is','for','on','with'))) AS DOUBLE)
        |  / len(string_split(text,' ')),4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_ws_tokens,
        |len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_doc_normalize" ->
      """SELECT doc_id,
        |length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_len,
        |md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same CASE chain as langGuess; RE2 spells the CJK range \x{..}-\x{..}.
    "x_langid_confusion" ->
      """SELECT lang,
        |CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |     WHEN regexp_matches(text, '[ñ¿¡]') THEN 'es'
        |     WHEN regexp_matches(text, '[äöüß]') THEN 'de'
        |     WHEN regexp_matches(text, '[àâçèêëîïôùûœ]') THEN 'fr'
        |     ELSE 'en' END AS guess,
        |count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
