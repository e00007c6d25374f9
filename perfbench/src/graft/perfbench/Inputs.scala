package graft.perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators for the workloads. Each is a pure function
  * of the seed: the same seed yields the same inputs byte for byte, which
  * the `fingerprint` of each input set makes visible in every run record. */
object Inputs {

  def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ------------------------------------------------------------ capture_live

  /** One client statement. `kind` is one of agg, join, insert, create,
    * drop or fail; `fail` statements are the planted runtime failures. */
  final case class Stmt(kind: String, sql: String) {
    def planted: Boolean = kind == "fail"
  }

  final case class CaptureInputs(seed: Long, setupSql: Seq[String],
                                 clients: IndexedSeq[IndexedSeq[Stmt]]) {
    def fingerprint: String =
      sha(setupSql.iterator ++ clients.iterator.flatten.map(s => s.kind + "|" + s.sql))
  }

  object CaptureInputs {
    val Db = "pb"
    val SalesTables = 3
    val RowsPerTable = 10000
    val Days: IndexedSeq[String] = (1 to 8).map(d => f"2026-01-$d%02d")
    val Customers = 200
    val StmtsPerClient = 4000

    def apply(seed: Long, nClients: Int): CaptureInputs = {
      val setup = Seq(s"CREATE DATABASE $Db",
        s"""CREATE TABLE $Db.cust USING parquet AS
           |SELECT CAST(id AS INT) AS cust,
           |  concat('r', CAST(pmod(hash(id, ${seed}L), 7) AS STRING)) AS region
           |FROM range($Customers)""".stripMargin) ++
        (0 until SalesTables).map { t =>
          s"""CREATE TABLE $Db.sales_$t USING parquet PARTITIONED BY (day) AS
             |SELECT id,
             |  CAST(pmod(hash(id, ${seed}L, $t), $Customers) AS INT) AS cust,
             |  CAST(pmod(hash(id, ${seed}L, $t, 1), 100000) AS DOUBLE) / 100 AS amount,
             |  concat('2026-01-0', CAST(pmod(hash(id, ${seed}L, $t, 2), ${Days.size}) + 1 AS STRING)) AS day
             |FROM range($RowsPerTable)""".stripMargin
        } ++
        (0 until nClients).map { c =>
          s"""CREATE TABLE $Db.sink_$c (id BIGINT, cust INT, amount DOUBLE, day STRING)
             |USING parquet PARTITIONED BY (day)""".stripMargin
        }
      val clients = (0 until nClients).map(c => statements(seed, c))
      CaptureInputs(seed, setup, clients)
    }

    /** Statement kinds per block of 25; every block has this mix, in a
      * seeded order, so any window sees the same mix whatever the seed. */
    val Mix: Seq[(String, Int)] = Seq("agg" -> 10, "join" -> 5, "insert" -> 4,
      "ddl" -> 4, "fail" -> 2)

    /** A client's statement list: partition-pruned aggregates and joins,
      * static-partition INSERTs into the client's OWN table (two clients
      * staging into one table race on its `_temporary` dir), CREATE/DROP
      * pairs, and planted `assert_true` failures. */
    private def statements(seed: Long, c: Int): IndexedSeq[Stmt] = {
      val r = new SplittableRandom(seed * 1000003L + c)
      def day = Days(r.nextInt(Days.size))
      def tbl = s"$Db.sales_${r.nextInt(SalesTables)}"
      val block = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
      var pendingDrop: Option[String] = None
      var created = 0
      (0 until StmtsPerClient / block.length).flatMap { _ =>
        for (i <- block.length - 1 to 1 by -1) {
          val j = r.nextInt(i + 1)
          val x = block(i); block(i) = block(j); block(j) = x
        }
        block.toSeq.map {
          case "ddl" => pendingDrop match {
            case Some(t) =>
              pendingDrop = None
              Stmt("drop", s"DROP TABLE $t")
            case None =>
              val t = s"$Db.tmp_${c}_$created"
              created += 1
              pendingDrop = Some(t)
              Stmt("create", s"CREATE TABLE $t (id BIGINT, v STRING) USING parquet")
          }
          case "fail" =>
            Stmt("fail", s"SELECT assert_true(amount < 0, 'planted') AS ok FROM $tbl WHERE day = '$day'")
          case "insert" =>
            val d = day
            Stmt("insert", s"INSERT INTO $Db.sink_$c PARTITION (day = '$d') " +
              s"SELECT id, cust, amount FROM $tbl WHERE day = '$d' AND cust = ${r.nextInt(Customers)}")
          case "join" =>
            Stmt("join", s"SELECT c.region, count(*) AS n, round(sum(s.amount), 2) AS total " +
              s"FROM $tbl s JOIN $Db.cust c ON s.cust = c.cust " +
              s"WHERE s.day IN ('$day', '$day') GROUP BY c.region")
          case _ =>
            Stmt("agg", s"SELECT day, count(*) AS n, round(sum(amount), 2) AS total " +
              s"FROM $tbl WHERE day = '$day' AND cust < ${1 + r.nextInt(Customers)} GROUP BY day")
        }
      }
    }
  }

  // ------------------------------------------------------------ dedup_corpus

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A planted near-duplicate pair, `a` < `b`: one is an edited copy of the
    * other, or both are edited copies of one base document. */
  final case class Planted(a: Long, b: Long)

  final case class CorpusInputs(seed: Long, docs: IndexedSeq[Doc],
                                planted: IndexedSeq[Planted],
                                boilerplateDocs: Int, vocab: Int) {
    def fingerprint: String =
      sha(docs.iterator.map(d => s"${d.docId}|${d.lang}|${d.source}|${d.text}"))
    private lazy val byId = docs.map(d => d.docId -> d).toMap
    def toks(id: Long): Array[String] = byId(id).text.split(" ")
    def lang(id: Long): String = byId(id).lang
  }

  object CorpusInputs {
    val Docs = 480
    val Clusters = 40 // planted clusters of 2, 3 and 4 docs in turn
    val Vocab = 3000
    val BoilerplateShare = 0.55
    val EditRates: IndexedSeq[Double] = IndexedSeq(0.0, 0.01, 0.02, 0.05, 0.10)
    private val Langs = IndexedSeq("en", "en", "en", "en", "es", "de")

    /** Sizes are fixed and only content follows the seed, so runs on
      * different seeds do the same amount of work. */
    def apply(seed: Long): CorpusInputs = {
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      val zipf = new Zipf(Vocab, 1.05)
      def word(i: Int) = "w" + Integer.toString(i, 36)
      val boiler = Array("this", "page", "uses", "cookies", "to", "improve", "your", "experience")
      val clusterSize = (0 until Clusters).map(c => 2 + c % 3)
      val nBases = Docs - clusterSize.map(_ - 1).sum
      // base documents: (tokens, lang); the first `Clusters` seed clusters
      val bases = (0 until nBases).map { _ =>
        val n = 30 + r.nextInt(90)
        val toks = Array.fill(n)(word(zipf.sample(r)))
        (toks, Langs(r.nextInt(Langs.size)))
      }
      // planted clusters: edited copies of a base, one edit rate per cluster;
      // every doc is (tokens, lang, index of its base)
      val copies = (0 until Clusters).flatMap { b =>
        val rate = EditRates(b % EditRates.size)
        (1 until clusterSize(b)).map { _ =>
          val t = bases(b)._1.clone()
          val subs = math.round(rate * t.length).toInt
          (0 until subs).foreach { _ =>
            val p = r.nextInt(t.length)
            var w = word(zipf.sample(r))
            while (w == t(p)) w = word(zipf.sample(r))
            t(p) = w
          }
          (t, bases(b)._2, b)
        }
      }
      val all = bases.zipWithIndex.map { case ((t, l), b) => (t, l, b) } ++ copies
      // boilerplate span spliced into the docs of a share of bases, at the
      // same position in a cluster so copies stay near-duplicates
      val boilerBase = bases.indices.map(_ => r.nextDouble() < BoilerplateShare)
      val boilerPos = bases.map(b => r.nextInt(b._1.length))
      val withBoiler = all.map { case (t, l, b) =>
        if (boilerBase(b)) (t.take(boilerPos(b)) ++ boiler ++ t.drop(boilerPos(b)), l, b)
        else (t, l, b)
      }
      // shuffle so planted copies are scattered over doc ids
      val order = withBoiler.indices.toArray
      for (i <- order.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val x = order(i); order(i) = order(j); order(j) = x
      }
      val idOf = new Array[Long](order.length)
      order.zipWithIndex.foreach { case (src, id) => idOf(src) = id.toLong }
      val docs = order.indices.map { id =>
        val (t, l, _) = withBoiler(order(id))
        Doc(id.toLong, t.mkString(" "), l, s"src${id % 7}")
      }
      // planted pairs: every pair within a cluster (base + its copies)
      val members = withBoiler.indices.groupBy(i => withBoiler(i)._3)
        .filter(_._2.size > 1)
      val planted = members.values.toIndexedSeq.flatMap { m =>
        for {
          x <- m; y <- m if idOf(x) < idOf(y)
        } yield Planted(idOf(x), idOf(y))
      }.sortBy(p => (p.a, p.b))
      CorpusInputs(seed, docs, planted,
        withBoiler.count(w => boilerBase(w._3)), Vocab)
    }
  }

  /** Distinct word bigrams, as `x_jaccard_ngram` forms them. */
  def bigrams(t: Array[String]): Set[String] =
    t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet

  /** Distinct word 3-shingles, as the minhash operators form them. */
  def shingles(t: Array[String]): Set[String] =
    t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}
