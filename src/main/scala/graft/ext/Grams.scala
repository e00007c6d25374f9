package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Word grams and their minhash band minima, computed by typed loops.
  *
  * Every value equals what the SQL forms build and the DuckDB oracles
  * replay: [[Dedup.shingles]]' `concat_ws` tail, `array_distinct`'s
  * first-occurrence order, and `min(substring(md5(salt || shingle), ...))`
  * per band. The loops replace `transform`/`sequence` lambdas, which Spark
  * evaluates on the interpreted path outside whole-stage codegen. A NULL
  * text has no grams.
  */
object Grams {

  /** Distinct n-token grams of a pre-split token array: gram i (1-based)
    * is `concat_ws(' ', toks[i], …, toks[i+n-1])`, skipping indexes past
    * the end, for i in 1..max(len-(n-1), 1); first-occurrence order like
    * `array_distinct`. */
  def distinct(toks: Array[String], n: Int): Array[String] = {
    val len = toks.length
    val last = math.max(len - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i < last) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n && i + k < len) { sb.append(' ').append(toks(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Per-band minhash minima over a shingle set: band b is the min over
    * shingles of 8-hex-char chunk `b % 4` of md5(salt ++ shingle), salt
    * "" for bands 0–3, then "1", "2", … per further four bands. A min
    * ignores duplicates, so the set need not be distinct. Lexicographic
    * min on fixed-width lowercase hex equals numeric min, and
    * String.compareTo on ASCII equals UTF8String binary order. */
  def bandMins(shingles: Array[String], bands: Int): Array[String] = {
    val nHashes = (bands + 3) / 4
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(str: String): String = {
      md.reset()
      val d = md.digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      d.foreach { b =>
        sb.append(Character.forDigit((b & 0xf0) >> 4, 16))
        sb.append(Character.forDigit(b & 0x0f, 16))
      }
      sb.toString
    }
    val mins = new Array[String](bands)
    var s = 0
    while (s < shingles.length) {
      val sh = shingles(s)
      var k = 0
      while (k < nHashes) {
        val h = md5hex(if (k == 0) sh else k.toString + sh)
        var b = k * 4
        val hi = math.min(bands, k * 4 + 4)
        while (b < hi) {
          val c = h.substring(8 * (b % 4), 8 * (b % 4) + 8)
          if (mins(b) == null || c < mins(b)) mins(b) = c
          b += 1
        }
        k += 1
      }
      s += 1
    }
    mins
  }

  /** One `(key, shingle)` row per distinct 3-token shingle of each row's
    * `text`: the rows of `select(key,
    * explode(array_distinct(Dedup.shingles(split(text, " ")))))` for every
    * non-NULL text. `key` is any column of `docs`, kept as it is (a doc id
    * or a source name). */
  def shingleRows(docs: DataFrame, key: String = "doc_id"): DataFrame = {
    val out = StructType(Seq(docs.schema(key),
      StructField("shingle", StringType, nullable = false)))
    docs.select(col(key), col("text"))
      .flatMap { r =>
        if (r.isNullAt(1)) Iterator.empty
        else distinct(r.getString(1).split(" ", -1), 3).iterator
          .map(sh => Row(r.get(0), sh))
      }(Encoders.row(out))
  }
}
