package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Every input the program sees is made here from
  * the run's seed: the same seed gives the same rows (and the same
  * [[Gen.digest]]), a different seed gives different rows. Nothing here
  * calls into graft.
  */
object Gen {

  /** An independent stream per (seed, purpose, index). */
  def rng(seed: Long, tag: String, i: Long = 0L): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + i
    tag.foreach(c => h = (h ^ c) * 0x100000001B3L)
    new SplittableRandom(h)
  }

  /** SHA-256 over a canonical rendering of generated rows. */
  def digest(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.toString.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}

/** Zipf(s) over ranks 0..n-1, sampled by binary search over the CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** A synthetic vocabulary: rank r is a distinct word. The ten most
  * frequent ranks are the English stopwords the quality gate looks for.
  */
object Words {
  val Stop: Array[String] =
    Array("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si",
    "pe", "du", "ga", "ri", "zo", "fe", "ha", "ju")

  def word(rank: Int): String =
    if (rank < Stop.length) Stop(rank)
    else {
      var v = rank - Stop.length
      val sb = new StringBuilder
      var digits = 0
      while (v > 0 || digits < 2) {
        sb.insert(0, Syl(v & 15))
        v >>>= 4
        digits += 1
      }
      sb.toString
    }

  def sentence(r: SplittableRandom, z: Zipf, n: Int): String =
    Iterator.fill(n)(word(z.sample(r))).mkString(" ")
}

/** A TPC-H-shaped FK graph plus the self-FK `customer.c_mgrkey →
  * c_custkey` (`c_mgrkey = floor(c_custkey / 2)`, null at the root).
  * Keys are 1-based and dense, so key `k` lives at index `k - 1`.
  *
  * The shape is uniform across seeds, so that the work of a dump does not
  * depend on which seed class it draws: `customers` is `2^d - 1` and
  * orders reference only the leaves of the manager tree (keys
  * `2^(d-1) .. 2^d - 1`, all at depth `d - 1`), and every order has
  * [[LinesPerOrder]] line items.
  */
final class Tpch(seed: Long, val customers: Int, val orders: Int,
    val parts: Int, val suppliers: Int) {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val comments = new Zipf(2000, 1.0)
  private def text(r: SplittableRandom, lo: Int, hi: Int): String =
    Words.sentence(r, comments, lo + r.nextInt(hi - lo + 1))
  private def date(r: SplittableRandom): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8035 + r.nextInt(2400)))

  val custNation: Array[Long] = {
    val r = Gen.rng(seed, "cust.nation")
    Array.fill(customers)(r.nextInt(25).toLong)
  }
  def custMgr(ck: Long): Option[Long] = if (ck >= 2) Some(ck / 2) else None
  val suppNation: Array[Long] = {
    val r = Gen.rng(seed, "supp.nation")
    Array.fill(suppliers)(r.nextInt(25).toLong)
  }
  private val leaves = (customers + 1) / 2
  require(customers > 0 && (customers & (customers + 1)) == 0, "customers must be 2^d - 1")
  val orderCust: Array[Long] = {
    val r = Gen.rng(seed, "order.cust")
    Array.fill(orders)(leaves.toLong + r.nextInt(leaves))
  }
  /** (l_orderkey, l_linenumber, l_partkey, l_suppkey) in key order. */
  val lines: Array[(Long, Int, Long, Long)] = {
    val r = Gen.rng(seed, "lines")
    (1 to orders).iterator.flatMap { ok =>
      (1 to Tpch.LinesPerOrder).map(ln =>
        (ok.toLong, ln, 1L + r.nextInt(parts), 1L + r.nextInt(suppliers)))
    }.toArray
  }

  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** (table, column, foreign table, foreign column), self-FK included. */
  val foreignKeys: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("customer", "c_mgrkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  val primaryKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  private val L = LongType
  private val S = StringType
  private val D = DoubleType
  private def schema(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = n == "c_mgrkey") })

  /** The rows of `table` with their schema. */
  def rows(table: String): (StructType, Iterator[Row]) = {
    val r = Gen.rng(seed, s"rows.$table")
    def money(lo: Double, span: Double) = math.round((lo + r.nextDouble() * span) * 100) / 100.0
    def phone = f"${10 + r.nextInt(25)}%02d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
    table match {
      case "region" => (schema("r_regionkey" -> L, "r_name" -> S, "r_comment" -> S),
        Iterator.tabulate(5)(k => Row(k.toLong, s"REGION#$k", text(r, 4, 10))))
      case "nation" => (schema("n_nationkey" -> L, "n_name" -> S, "n_regionkey" -> L, "n_comment" -> S),
        Iterator.tabulate(25)(k => Row(k.toLong, s"NATION#$k", (k % 5).toLong, text(r, 4, 10))))
      case "customer" => (schema("c_custkey" -> L, "c_name" -> S, "c_address" -> S,
          "c_nationkey" -> L, "c_phone" -> S, "c_acctbal" -> D, "c_mktsegment" -> S,
          "c_comment" -> S, "c_mgrkey" -> L),
        Iterator.tabulate(customers) { i =>
          val ck = i + 1L
          Row(ck, f"Customer#$ck%09d", text(r, 2, 4), custNation(i), phone,
            money(-999, 10998), Tpch.Segments(r.nextInt(5)), text(r, 4, 14),
            custMgr(ck).map(Long.box).orNull)
        })
      case "supplier" => (schema("s_suppkey" -> L, "s_name" -> S, "s_address" -> S,
          "s_nationkey" -> L, "s_phone" -> S, "s_acctbal" -> D, "s_comment" -> S),
        Iterator.tabulate(suppliers) { i =>
          Row(i + 1L, f"Supplier#${i + 1}%09d", text(r, 2, 4), suppNation(i), phone,
            money(-999, 10998), text(r, 4, 12))
        })
      case "part" => (schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
          "p_type" -> S, "p_size" -> IntegerType, "p_retailprice" -> D, "p_comment" -> S),
        Iterator.tabulate(parts) { i =>
          Row(i + 1L, text(r, 3, 5), s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
            text(r, 2, 3), 1 + r.nextInt(50), money(900, 1100), text(r, 2, 6))
        })
      case "orders" => (schema("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
          "o_totalprice" -> D, "o_orderdate" -> DateType, "o_orderpriority" -> S,
          "o_comment" -> S),
        Iterator.tabulate(orders) { i =>
          Row(i + 1L, orderCust(i), "FOP".substring(r.nextInt(3)).take(1),
            money(800, 450000), date(r), s"${1 + r.nextInt(5)}-PRIORITY",
            text(r, 3, 12))
        })
      case "lineitem" => (schema("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
          "l_linenumber" -> IntegerType, "l_quantity" -> D, "l_extendedprice" -> D,
          "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S, "l_shipdate" -> DateType,
          "l_comment" -> S),
        lines.iterator.map { case (ok, ln, pk, sk) =>
          val q = 1 + r.nextInt(50)
          Row(ok, pk, sk, ln, q.toDouble, money(q * 900.0, q * 200.0),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            "ANR".substring(r.nextInt(3)).take(1), date(r), text(r, 2, 8))
        })
    }
  }

  /** Expected FK closure of the lineitem rows whose order key is in
    * `residue` modulo `modulus`: table → primary keys (lineitem keys are
    * `orderkey * 16 + linenumber`). Computed here, independently of graft.
    */
  def closure(modulus: Long, residue: Long): Map[String, Set[Long]] = {
    val li = lines.filter(_._1 % modulus == residue)
    val ords = li.map(_._1).toSet
    val prts = li.map(_._3).toSet
    val sups = li.map(_._4).toSet
    var custs = ords.map(o => orderCust((o - 1).toInt))
    var frontier = custs
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(custMgr) -- custs
      custs ++= frontier
    }
    val nats = custs.map(c => custNation((c - 1).toInt)) ++
      sups.map(s => suppNation((s - 1).toInt))
    Map(
      "lineitem" -> li.map(l => l._1 * 16 + l._2).toSet,
      "orders" -> ords, "part" -> prts, "supplier" -> sups, "customer" -> custs,
      "nation" -> nats, "region" -> nats.map(_ % 5))
  }
}

object Tpch {
  val LinesPerOrder = 4
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}

/** One planted crawl batch: the rows plus what each row was planted as. */
final case class CrawlBatch(rows: Seq[(Long, String)], fresh: Set[Long],
    exactDup: Set[Long], nearDup: Set[Long], reject: Set[Long],
    inBatchCopy: Set[Long])

/** The crawl corpus and its batches. Batches mix fresh documents with
  * planted exact duplicates of corpus documents, near-duplicates of corpus
  * documents (a few tokens replaced), in-batch copies of a fresh document,
  * and quality rejects (too short, or no stopword).
  */
final class Crawl(seed: Long, val corpusSize: Int, val batchSize: Int) {
  private val vocab = new Zipf(8000, 1.0)

  private def doc(r: SplittableRandom): String = {
    val n = 40 + r.nextInt(41)
    // a leading stopword keeps every generated document above the quality bar
    "the " + Words.sentence(r, vocab, n - 1)
  }

  val corpus: IndexedSeq[(Long, String)] = {
    val r = Gen.rng(seed, "crawl.corpus")
    (1 to corpusSize).map(i => (i.toLong, doc(r)))
  }

  def batch(b: Int): CrawlBatch = {
    val r = Gen.rng(seed, "crawl.batch", b)
    val base = 10000000L + b.toLong * 100000L
    val nExact = batchSize / 10
    val nNear = batchSize / 10
    val nReject = batchSize / 10
    val nCopy = batchSize / 40
    val nFresh = batchSize - nExact - nNear - nReject - 2 * nCopy
    var id = base
    def next(): Long = { id += 1; id }
    val fresh = Seq.fill(nFresh)((next(), doc(r)))
    val copies = Seq.fill(nCopy) { val t = doc(r); Seq((next(), t), (next(), t)) }.flatten
    val exact = Seq.fill(nExact)((next(), corpus(r.nextInt(corpusSize))._2))
    val near = Seq.fill(nNear) {
      val toks = corpus(r.nextInt(corpusSize))._2.split(' ')
      // two replaced tokens: shingle Jaccard stays near 0.8
      (0 until 2).foreach(_ => toks(1 + r.nextInt(toks.length - 1)) =
        Words.word(8000 + r.nextInt(8000)))
      (next(), toks.mkString(" "))
    }
    val reject = Seq.fill(nReject) {
      if (r.nextBoolean()) (next(), Words.sentence(r, vocab, 3))
      else (next(), Iterator.fill(12)(Words.word(10 + r.nextInt(5000))).mkString(" "))
    }
    val all = fresh ++ copies ++ exact ++ near ++ reject
    // a fixed shuffle so planted rows are not clustered by kind
    val order = all.indices.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    CrawlBatch(order.toSeq.map(all), (fresh ++ copies.grouped(2).map(_.head)).map(_._1).toSet,
      exact.map(_._1).toSet, near.map(_._1).toSet, reject.map(_._1).toSet,
      copies.grouped(2).map(_.last._1).toSet)
  }
}

/** The serving corpus (Zipf vocabulary), its embeddings and query batches. */
final class Serving(seed: Long, val docs: Int, val dim: Int, val queriesPerBatch: Int) {
  private val vocabSize = 20000
  private val vocab = new Zipf(vocabSize, 1.07)
  private val clusters = 64

  val corpus: IndexedSeq[(Long, String)] = {
    val r = Gen.rng(seed, "serve.corpus")
    (1 to docs).map(i => (i.toLong, Words.sentence(r, vocab, 20 + r.nextInt(41))))
  }

  private val centers: Array[Array[Double]] = {
    val r = Gen.rng(seed, "serve.centers")
    Array.fill(clusters)(Array.fill(dim)(r.nextDouble() * 2 - 1))
  }
  private def near(r: SplittableRandom, c: Array[Double], sd: Double): Array[Double] =
    c.map(x => x + sd * gauss(r))
  private def gauss(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val vectors: IndexedSeq[(Long, Array[Double])] = {
    val r = Gen.rng(seed, "serve.vectors")
    (1 to docs).map(i => (i.toLong, near(r, centers(r.nextInt(clusters)), 0.35)))
  }

  /** Query terms: Zipf ranks past the stopwords, 2 to 4 terms per query. */
  def termBatch(b: Int): Seq[(Long, Seq[String])] = {
    val r = Gen.rng(seed, "serve.terms", b)
    (1 to queriesPerBatch).map { q =>
      val n = 2 + r.nextInt(3)
      (b.toLong * 10000 + q, Seq.fill(n)(Words.word(Words.Stop.length +
        vocab.sample(r) % (vocabSize - Words.Stop.length))).distinct)
    }
  }

  /** Query vectors: perturbed corpus vectors. */
  def vectorBatch(b: Int): Seq[(Long, Array[Double])] = {
    val r = Gen.rng(seed, "serve.qvec", b)
    (1 to queriesPerBatch).map(q =>
      (b.toLong * 10000 + q, near(r, vectors(r.nextInt(docs))._2, 0.1)))
  }

  /** Exact cosine top-k of `q` over the corpus (ties on the lower id). */
  def exactTopK(q: Array[Double], k: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qn = norm(q)
    vectors.map { case (id, v) =>
      var dot = 0.0; var i = 0
      while (i < dim) { dot += v(i) * q(i); i += 1 }
      (-(dot / (norm(v) * qn)), id)
    }.sorted.take(k).map(_._2)
  }
}
