package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{Exempt, Sql}

/** The query registry's shape, ScaleCheck's row names and the harness
  * name selection, checked without a Spark session. */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.entries.map(_.name)

  test("registry entry names are unique") {
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"duplicate registry entries: ${dups.mkString(", ")}")
  }

  test("exactly the five sketch/iterative queries are Exempt, each with a reason") {
    val exempt = SparkEntry.entries.collect { case SparkEntry.Entry(n, _, Exempt(r)) => n -> r }
    assert(exempt.map(_._1).toSet === Set("bloom_ingest_dedup", "bpe_train",
      "compress_ratio", "fingerprint_bloom", "profile_approx"))
    exempt.foreach { case (n, r) => assert(r.trim.nonEmpty, s"$n has no exemption reason") }
  }

  test("135 entries carry DuckDB SQL") {
    val sql = SparkEntry.entries.collect { case SparkEntry.Entry(n, _, Sql(t)) => n -> t }
    assert(sql.size === 135)
    sql.foreach { case (n, t) => assert(t.trim.nonEmpty, s"$n has empty oracle SQL") }
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  // Listing the scale-only rows founds no fixture and runs no row, so it
  // needs no session: a row list that touched one would fail here.
  private val scaleOnly =
    new ScaleCheck.Scenarios(null, "unused", sys.error("no fixture")).rows.map(_._1)

  test("every ScaleCheck registry row names a registry entry") {
    val unknown = ScaleCheck.registryRows.filterNot(names.toSet)
    assert(unknown.isEmpty, s"registry rows with no entry: ${unknown.mkString(", ")}")
  }

  test("no ScaleCheck scale-only row takes a registry entry's name") {
    val taken = scaleOnly.filter(names.toSet)
    assert(taken.isEmpty, s"scale-only rows named like entries: ${taken.mkString(", ")}")
  }

  test("ScaleCheck row names are unique") {
    val all = ScaleCheck.registryRows ++ scaleOnly
    val dups = all.diff(all.distinct)
    assert(dups.isEmpty, s"duplicate rows: ${dups.mkString(", ")}")
  }

  private val items = Seq("a" -> 1, "b" -> 2, "c" -> 3)
  private def pick(list: Option[String]) =
    Harness.select(items, list, "the test list")(_._1).map(_._1)

  test("select keeps every item without a list and the listed ones in item order") {
    assert(pick(None) === Seq("a", "b", "c"))
    assert(pick(Some("c,a")) === Seq("a", "c"))
  }

  test("select fails on unknown names and names every one of them") {
    val e = intercept[IllegalArgumentException](pick(Some("a,bb,zz")))
    assert(e.getMessage.contains("the test list"))
    assert(e.getMessage.contains("bb, zz"))
  }
}
