package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks. Each returns the failures it found (empty = passed). They
  * take plain collected values, so the self-test can feed them broken
  * outputs directly.
  */
object Checks {

  /** Regular files under `root` by relative path, checksum sidecars
    * (`.name.crc`) excluded.
    */
  def files(root: Path): Map[String, Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString -> p).toMap
    finally s.close()
  }

  /** The unarchived tree is byte-identical to the dump directory. */
  def sameFiles(dump: Path, unarchived: Path): Seq[String] = {
    val a = files(dump)
    val b = files(unarchived)
    val missing = (a.keySet -- b.keySet).toSeq.sorted.map(f => s"unarchive lost $f")
    val extra = (b.keySet -- a.keySet).toSeq.sorted.map(f => s"unarchive added $f")
    val differ = (a.keySet intersect b.keySet).toSeq.sorted.filterNot(f =>
      java.util.Arrays.equals(Files.readAllBytes(a(f)), Files.readAllBytes(b(f))))
      .map(f => s"unarchived $f differs from the dump")
    missing ++ extra ++ differ
  }

  /** Row counts per table recorded in a dump's manifest.json. */
  def manifestRows(dump: Path): Map[String, Long] = {
    val text = new String(Files.readAllBytes(dump.resolve("manifest.json")), "UTF-8")
    """"table": "([^"]+)", "rows": (\d+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** A loaded table: column name → values (None for SQL NULL). */
  type Table = Map[String, IndexedSeq[Option[Long]]]

  /** Checks a restored FK-closed dump:
    *  - no orphan key on any FK edge (self-FK included);
    *  - every seed row is present;
    *  - loaded row counts equal the manifest's;
    *  - each table holds exactly the independently computed closure.
    * `key(table)` maps a loaded table to its primary keys.
    */
  def restored(
      loaded: Map[String, Table],
      foreignKeys: Seq[(String, String, String, String)],
      key: (String, Table) => IndexedSeq[Long],
      manifest: Map[String, Long],
      seedKeys: Set[Long],
      expected: Map[String, Set[Long]]): Seq[String] = {
    val orphans = foreignKeys.flatMap { case (t, c, ft, fc) =>
      val parents = loaded.get(ft).map(_(fc).flatten.toSet).getOrElse(Set.empty[Long])
      val kids = loaded.get(t).map(_(c).flatten).getOrElse(IndexedSeq.empty)
      val bad = kids.filterNot(parents).distinct
      if (bad.isEmpty) None
      else Some(s"${bad.size} orphan keys on $t.$c -> $ft.$fc (e.g. ${bad.take(3).mkString(",")})")
    }
    val lineitem = loaded.get("lineitem").map(key("lineitem", _).toSet).getOrElse(Set.empty[Long])
    val seeds = seedKeys -- lineitem
    val seedMiss =
      if (seeds.isEmpty) Nil else Seq(s"${seeds.size} seed rows missing from the dump")
    val counts = manifest.toSeq.sorted.flatMap { case (t, n) =>
      val got = loaded.get(t).map(key(t, _).size.toLong).getOrElse(-1L)
      if (got == n) None else Some(s"$t loaded $got rows, manifest recorded $n")
    }
    val closure = expected.toSeq.sortBy(_._1).flatMap { case (t, want) =>
      val got = loaded.get(t).map(key(t, _)).getOrElse(IndexedSeq.empty)
      if (got.size == want.size && got.toSet == want) None
      else Some(s"$t holds ${got.size} rows (${got.toSet.size} distinct), closure has ${want.size}")
    }
    orphans ++ seedMiss ++ counts ++ closure
  }

  /** Near-duplicate drop rate every gated batch must reach. */
  val NearDupDropRate = 0.9

  /** Checks one gated batch against what was planted in it:
    *  - every fresh document (the first of each in-batch copy pair too)
    *    survives: none shares a digest with the store, and its shingles are
    *    far from every stored document's, so a gate that drops one drops
    *    too much;
    *  - every planted exact duplicate, in-batch copy and quality reject
    *    is dropped;
    *  - no survivor's digest is already in the store;
    *  - planted near-duplicates are dropped at [[NearDupDropRate]] or more.
    * Returns the failures and the measured near-duplicate drop rate.
    */
  def gated(batch: CrawlBatch, survivors: Seq[(Long, String)],
      storeDigests: collection.Set[String]): (Seq[String], Double) = {
    val ids = survivors.map(_._1).toSet
    def kept(what: String, planted: Set[Long]): Option[String] = {
      val k = planted intersect ids
      if (k.isEmpty) None else Some(s"${k.size} planted $what admitted (e.g. ${k.head})")
    }
    val lost = batch.fresh -- ids
    val stale = survivors.filter { case (_, t) => storeDigests(Gen.md5Hex(t)) }
    val nearRate =
      if (batch.nearDup.isEmpty) 1.0
      else (batch.nearDup -- ids).size.toDouble / batch.nearDup.size
    val fails = (if (lost.isEmpty) Nil
       else Seq(s"${lost.size} of ${batch.fresh.size} fresh documents dropped (e.g. ${lost.head})")) ++
      kept("exact duplicates", batch.exactDup) ++
      kept("in-batch copies", batch.inBatchCopy) ++
      kept("quality rejects", batch.reject) ++
      (if (stale.isEmpty) Nil
       else Seq(s"${stale.size} survivors already in the store (e.g. ${stale.head._1})")) ++
      (if (nearRate >= NearDupDropRate) Nil
       else Seq(f"near-duplicates dropped at $nearRate%.3f < $NearDupDropRate"))
    (fails, nearRate)
  }

  /** Ranked answers: per query, ranks 1..n with n == k (`exact`) or n <= k. */
  def ranked(what: String, queries: Seq[Long], answers: Seq[(Long, Long, Long)],
      k: Int, exact: Boolean): Seq[String] = {
    val byQ = answers.groupBy(_._1)
    val stray = byQ.keySet -- queries
    queries.flatMap { q =>
      val rs = byQ.getOrElse(q, Nil).map(_._3).sorted
      val n = rs.size
      if ((exact && n != k) || n > k) Some(s"$what query $q has $n answers, want ${if (exact) "" else "<= "}$k")
      else if (rs != (1L to n.toLong)) Some(s"$what query $q ranks are ${rs.mkString(",")}")
      else None
    } ++ stray.toSeq.map(q => s"$what answered unknown query $q")
  }

  /** Two answer sets are equal row for row. */
  def sameAnswers(what: String, got: Seq[(Long, Long, Long, Double)],
      want: Seq[(Long, Long, Long, Double)]): Seq[String] = {
    val g = got.sorted
    val w = want.sorted
    if (g == w) Nil
    else {
      val diff = g.zipAll(w, null, null).find { case (a, b) => a != b }
      Seq(s"$what differs from the reference (${g.size} vs ${w.size} rows; first: $diff)")
    }
  }
}
