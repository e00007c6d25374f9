package graft.ext

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The gram kernel against the SQL forms the DuckDB oracles replay. */
class GramsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.Sf0001

  test("shingle rows equal the exploded distinct shingle lambda") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w${i % 7}").mkString(" ")
    val texts = Seq("", "one", "one two", "one two three",
      "a a a a b a a", "x  y", " lead trail ", "naïve café 東京 タワー 😀 x",
      long)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def perDoc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2) }
    val lambda = docs.select(col("doc_id"), explode(array_distinct(
      Dedup.shingles(split(col("text"), " ")))).as("shingle"))
    val native = Grams.shingleRows(docs)
    assert(native.columns.toSeq == Seq("doc_id", "shingle"))
    // same rows per doc, in the same first-occurrence order
    assert(perDoc(native) == perDoc(lambda))
    // the key column may be any column, kept as it is
    val bySource = Grams.shingleRows(docs.select(
      col("doc_id").cast("string").as("source"), col("text")), "source")
    assert(bySource.collect().map(r => r.getString(0).toLong -> r.getString(1))
      .toSeq.sorted == native.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted)
  }

  test("a NULL text has no shingle rows") {
    import spark.implicits._
    val docs = Seq((1L, null: String), (2L, "a b c")).toDF("doc_id", "text")
    assert(Grams.shingleRows(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(2L -> "a b c"))
  }

  test("band minima equal the md5-chunk signature of a corpus doc") {
    // every non-NULL doc of the corpus: the SQL aggregate the DuckDB
    // oracles replay (band i = min over distinct shingles of hex chunk
    // i % 4 of md5(salt || shingle), salt "" then "1", "2"; n_sh = the
    // distinct shingle count) against docSignatures and Grams.bandMins
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text")
    val sql = docs.select(col("doc_id"), explode(array_distinct(
        Dedup.shingles(split(col("text"), " ")))).as("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), (0 until 12).map { i =>
        val salted = if (i < 4) col("shingle")
          else concat(lit((i / 4).toString), col("shingle"))
        min(substring(md5(salted), 1 + 8 * (i % 4), 8)).as(s"b$i")
      }: _*)
    def byDoc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1) +: (0 until 12)
        .map(i => r.getAs[String](s"b$i")))).toMap
    val expected = byDoc(sql)
    assert(expected.size == docs.count(), "a non-NULL doc has no shingles")
    assert(byDoc(Dedup.docSignatures(spark, dir, 12)) == expected)
    docs.collect().foreach { r =>
      val mins = Grams.bandMins(
        Grams.distinct(r.getString(1).split(" ", -1), 3), 12)
      assert(mins.toSeq == expected(r.getLong(0)).tail, s"doc ${r.getLong(0)}")
    }
  }
}
