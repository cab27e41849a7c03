package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import org.apache.spark.sql.functions.col

import graft.core.{Catalog, ForeignKey}
import graft.sources.{Dump, DumpSpec}

/** Self-tests of the benchmark itself: the generators are deterministic per
  * seed and differ across seeds, and every correctness check fails on a
  * deliberately broken output.
  *
  * {{{
  * perfbench.SelfTest <scratch dir>
  * }}}
  * Prints one line per test and exits with the number of failed tests.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: => Boolean): Unit = {
    val passed = Try(ok).getOrElse(false)
    println((if (passed) "ok    " else "FAIL  ") + name)
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args(0))
    generators()
    ingestChecks()
    serveChecks()
    val spark = Main.session(scratch)
    try dumpChecks(new Ctx(spark, new Tracer(spark, enabled = false), 3L, scratch.resolve("work")))
    finally spark.stop()
    println(s"$failures failed")
    sys.exit(failures)
  }

  private def generators(): Unit = {
    def tpch(seed: Long): String = {
      val tp = new Tpch(seed, customers = 31, orders = 300, parts = 50, suppliers = 10)
      Gen.digest(tp.tables.iterator.flatMap(t => tp.rows(t)._2))
    }
    def crawl(seed: Long): String = {
      val c = new Crawl(seed, corpusSize = 200, batchSize = 80)
      Gen.digest(c.corpus.iterator ++ (0 until 3).iterator.flatMap { i =>
        val b = c.batch(i)
        b.rows ++ Seq(b.fresh, b.exactDup, b.nearDup, b.reject, b.inBatchCopy).map(_.toSeq.sorted)
      })
    }
    def serving(seed: Long): String = {
      val s = new Serving(seed, docs = 200, dim = 8, queriesPerBatch = 4)
      Gen.digest(s.corpus.iterator ++ s.vectors.iterator.map(v => (v._1, v._2.toSeq)) ++
        (0 until 3).iterator.flatMap(i =>
          s.termBatch(i) ++ s.vectorBatch(i).map(v => (v._1, v._2.toSeq))))
    }
    def rotation(seed: Long): String =
      Gen.digest((0 until 32).iterator.map(i => DumpFamily.residue(seed, i, 250L)))
    Seq("tpch" -> tpch _, "crawl" -> crawl _, "serving" -> serving _,
        "dump rotation" -> rotation _).foreach { case (name, digest) =>
      expect(s"$name inputs repeat for a seed", digest(7L) == digest(7L))
      expect(s"$name inputs differ across seeds", digest(7L) != digest(8L))
    }
    val b = new Crawl(7L, corpusSize = 200, batchSize = 80).batch(0)
    expect("a crawl batch plants every kind", Seq(b.fresh, b.exactDup, b.nearDup, b.reject,
      b.inBatchCopy).forall(_.nonEmpty))
  }

  private def ingestChecks(): Unit = {
    val c = new Crawl(5L, corpusSize = 300, batchSize = 120)
    val b = c.batch(0)
    val store = c.corpus.map(d => Gen.md5Hex(d._2)).toSet
    val ideal = b.rows.filter(r => b.fresh(r._1))
    def planted(kind: Set[Long]) = b.rows.filter(r => kind(r._1)).take(1)
    expect("ideal survivors pass the gate check", Checks.gated(b, ideal, store)._1.isEmpty)
    expect("a gate that keeps nothing fails", Checks.gated(b, Nil, store)._1.nonEmpty)
    expect("a gate that drops half the fresh documents fails",
      Checks.gated(b, ideal.take(ideal.size / 2), store)._1.nonEmpty)
    expect("a gate that drops one fresh document fails",
      Checks.gated(b, ideal.tail, store)._1.nonEmpty)
    expect("a re-admitted exact duplicate fails",
      Checks.gated(b, ideal ++ planted(b.exactDup), store)._1.nonEmpty)
    expect("a re-admitted in-batch copy fails",
      Checks.gated(b, ideal ++ planted(b.inBatchCopy), store)._1.nonEmpty)
    expect("an admitted quality reject fails",
      Checks.gated(b, ideal ++ planted(b.reject), store)._1.nonEmpty)
    expect("a survivor already in the store fails",
      Checks.gated(b, ideal, store + Gen.md5Hex(ideal.head._2))._1.nonEmpty)
    expect("near-duplicates kept above the stated rate fail",
      Checks.gated(b, ideal ++ b.rows.filter(r => b.nearDup(r._1)), store)._1.nonEmpty)
  }

  private def serveChecks(): Unit = {
    val qs = Seq(1L, 2L)
    val full = for (q <- qs; r <- 1L to 10L) yield (q, 100 * q + r, r)
    expect("k answers per query pass", Checks.ranked("v", qs, full, 10, exact = true).isEmpty)
    expect("a query short of k answers fails",
      Checks.ranked("v", qs, full.tail, 10, exact = true).nonEmpty)
    expect("a gap in the ranks fails",
      Checks.ranked("b", qs, full.filterNot(_._3 == 3L), 10, exact = false).nonEmpty)
    val scored = full.map { case (q, d, r) => (q, d, r, 10.0 - r) }
    expect("equal answers pass", Checks.sameAnswers("b", scored, scored.reverse).isEmpty)
    expect("a changed score fails", Checks.sameAnswers("b", scored,
      scored.updated(0, scored.head.copy(_4 = 0.5))).nonEmpty)
  }

  /** A real round trip, then broken copies of its outputs. */
  private def dumpChecks(c: Ctx): Unit = {
    import c._
    val tp = new Tpch(3L, customers = 31, orders = 300, parts = 50, suppliers = 10)
    val src = dir("tpch")
    tp.tables.foreach { t =>
      val (schema, rows) = tp.rows(t)
      write(rows.toSeq, schema, src.resolve(s"$t.parquet"))
    }
    val catalog = new Catalog(spark, src.toString, tp.tables,
      tp.foreignKeys.map { case (t, cl, ft, fc) => ForeignKey(t, cl, ft, fc) }, tp.primaryKeys)
    val (modulus, r) = (10L, 3L)
    val (dump, un, target) = (dir("dump"), dir("un"), dir("target"))
    Dump.write(catalog, DumpSpec(partialTables = Map("lineitem" ->
      catalog.table("lineitem").where(col("l_orderkey") % modulus === r))), dump.toString)
    Dump.archive(spark, dump.toString, dir("dump.zip").toString, "deflated")
    Dump.unarchive(spark, dir("dump.zip").toString, un.toString)
    Dump.loadInto(spark, un.toString, target.toString)
    expect("an intact round trip passes", DumpFamily.check(tp, dump, un, target, modulus, r).isEmpty)

    val expected = tp.closure(modulus, r)
    val manifest = Checks.manifestRows(dump)
    val loaded = DumpFamily.loaded(tp, target)
    def without(t: String, col: String, key: Long) = {
      val tbl = loaded(t)
      val keep = tbl(col).indices.filterNot(i => tbl(col)(i).contains(key))
      loaded.updated(t, tbl.map { case (cl, vs) => cl -> keep.map(vs) })
    }
    def restored(l: Map[String, Checks.Table]) =
      Checks.restored(l, tp.foreignKeys, DumpFamily.key, manifest, expected("lineitem"), expected)
    val parent = loaded("orders")("o_custkey").flatten.head
    expect("a dropped parent row fails the orphan check",
      restored(without("customer", "c_custkey", parent)).exists(_.contains("orphan")))
    val manager = loaded("customer")("c_mgrkey").flatten.head
    expect("a dropped manager row fails the self-FK orphan check",
      restored(without("customer", "c_custkey", manager)).exists(_.contains("c_mgrkey")))
    val seed = loaded("lineitem")("l_orderkey").flatten.head
    expect("a dropped seed row fails the seed check",
      restored(without("lineitem", "l_orderkey", seed)).exists(_.contains("seed rows missing")))

    val shard = Checks.files(un.resolve("data").resolve("lineitem")).values
      .find(_.toString.endsWith(".parquet")).get
    Files.delete(shard)
    expect("a deleted dump shard fails the byte-identity check",
      DumpFamily.check(tp, dump, un, target, modulus, r).exists(_.contains("lost")))
    expect("a deleted dump shard fails the load",
      Try(Dump.loadInto(spark, un.toString, dir("target2").toString)).isFailure)
  }
}
