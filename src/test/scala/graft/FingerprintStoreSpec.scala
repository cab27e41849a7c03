package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, FingerprintStore}

/** The persisted-fingerprint ingest loop: dedup against a loaded artifact
  * must equal dedup computed from the corpus text, the sketch arm must
  * keep the Bloom one-sidedness (never admit a dup), and append must fold
  * survivors in so the next epoch sees them.
  */
class FingerprintStoreSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("store").toString

  test("load-then-dedup equals compute-then-dedup") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("fp-eq")
    FingerprintStore.save(corpus, path)

    val viaStore = Dedup.incrementalDedupFp(
        batch, FingerprintStore.loadFingerprints(spark, path))
      .orderBy("doc_id").collect()
    val viaText = Dedup.incrementalDedup(batch, corpus)
      .orderBy("doc_id").collect()
    assert(viaStore.toSeq === viaText.toSeq)
    assert(viaStore.nonEmpty)
  }

  test("pre-epoch flat layout stays readable and an append migrates it forward") {
    import spark.implicits._
    val path = tmp("fp-legacy")
    // the layout the pre-EpochStore code wrote: a bare fingerprints dir,
    // no MANIFEST — a valid artifact that must not be orphaned
    Seq("a", "b").toDF("text")
      .select(md5(col("text")).as("text_md5")).distinct()
      .write.parquet(s"$path/fingerprints")
    assert(FingerprintStore.loadFingerprints(spark, path).count() === 2)
    assertFooterSchemas(path)

    FingerprintStore.append(Seq("c").toDF("text"), path)
    // migrated: epoch 1 committed, the flat dir referenced AS the
    // founding segment (zero-copy migration) plus the batch's novel
    // digest as segment 1, with a rebuilt sketch covering all three
    assert(new java.io.File(s"$path/fingerprints_e1.segs").exists())
    assert(new java.io.File(s"$path/fingerprints").exists())
    assert(FingerprintStore.loadFingerprints(spark, path).count() === 3)
    assert(FingerprintStore.loadBloom(spark, path)._2 === 3L)
    assertFooterSchemas(path)
  }

  test("fingerprint table is exactly the corpus's distinct digests") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val path = tmp("fp-digests")
    FingerprintStore.save(corpus, path)
    val stored = FingerprintStore.loadFingerprints(spark, path)
      .orderBy("text_md5").collect().map(_.getString(0)).toSeq
    val expected = corpus.select(md5(col("text")).as("m")).distinct()
      .orderBy("m").collect().map(_.getString(0)).toSeq
    assert(stored === expected)
  }

  test("persisted sketch never admits a dup and only over-drops novel docs") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("fp-bloom")
    FingerprintStore.save(corpus, path)

    val (sketch, n) = FingerprintStore.loadBloom(spark, path)
    assert(n === corpus.select(md5(col("text"))).distinct().count())
    val viaSketch = Dedup.bloomSketchDedup(batch, sketch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.incrementalDedup(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one-sided: the sketch's survivors are a subset of the exact
    // survivors (a Bloom "maybe" can only OVER-drop), and every true dup
    // (batch doc whose text is in the corpus) is gone
    assert(viaSketch.subsetOf(exact))
    val trueDups = batch.join(corpus.select(col("text")), Seq("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaSketch.intersect(trueDups).isEmpty)
    assert(viaSketch.nonEmpty)
  }

  test("append folds survivors in: re-ingesting the same batch yields nothing") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("fp-append")
    FingerprintStore.save(corpus, path)

    val s1 = Dedup.incrementalDedupFp(
      batch, FingerprintStore.loadFingerprints(spark, path))
    assert(s1.count() > 0)
    FingerprintStore.appendFingerprints(s1.select(col("text_md5")), path)

    // epoch 2 with the identical batch: everything is now accepted
    val again = Dedup.incrementalDedupFp(
      batch, FingerprintStore.loadFingerprints(spark, path))
    assert(again.count() === 0)

    // and the store is exactly digests(corpus) ∪ digests(batch)
    val stored = FingerprintStore.loadFingerprints(spark, path)
      .orderBy("text_md5").collect().map(_.getString(0)).toSeq
    val expected = corpus.select(col("text"))
      .unionByName(batch.select(col("text")))
      .select(md5(col("text")).as("m")).distinct()
      .orderBy("m").collect().map(_.getString(0)).toSeq
    assert(stored === expected)

    // the merged sketch covers the appended digests too: zero admitted
    val (sketch, _) = FingerprintStore.loadBloom(spark, path)
    assert(Dedup.bloomSketchDedup(batch, sketch).count() === 0)
  }

  test("append writes only the novel digests: founding files byte-untouched") {
    import spark.implicits._
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val path = tmp("fp-obatch")
    FingerprintStore.save(corpus, path)

    def snapshot(dir: String): Map[String, (Long, Long)] = {
      new java.io.File(dir).listFiles().filter(_.isFile)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot(s"$path/fingerprints_s1")
    assert(before.nonEmpty)
    val (_, n1) = FingerprintStore.loadBloom(spark, path)

    // a batch that OVERLAPS the corpus and itself: only the truly novel
    // digests may land in the new segment (exact-distinct invariant
    // without rewriting — the map-side semi + broadcast anti pair)
    val overlapping = corpus.limit(5).select(col("text"))
      .unionByName(Seq("novel-a", "novel-b", "novel-b").toDF("text"))
    FingerprintStore.append(overlapping, path)

    assert(snapshot(s"$path/fingerprints_s1") === before,
      "O(batch) append must not rewrite the founding segment")
    val seg2 = spark.read.parquet(s"$path/fingerprints_s2")
      .collect().map(_.getString(0)).sorted.toSeq
    val wantNovel = Seq("novel-a", "novel-b").toDF("text")
      .select(md5(col("text")).as("m")).collect().map(_.getString(0)).sorted.toSeq
    assert(seg2 === wantNovel)
    // the union is still exactly-distinct, and the sketch row's exact
    // count advanced by the two novel digests via the O(batch) merge
    val stored = FingerprintStore.loadFingerprints(spark, path)
    assert(stored.count() === stored.distinct().count())
    assert(FingerprintStore.loadBloom(spark, path)._2 === n1 + 2)
  }

  test("compact merges digest segments; exact and sketch arms unchanged through vacuum") {
    import graft.core.EpochStore
    val path = tmp("fp-compact")
    FingerprintStore.save(docs.where(col("doc_id") % 2 === 0), path)
    FingerprintStore.append(docs.where(col("doc_id") % 4 === 1), path)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    def exactGate() = Dedup.incrementalDedupFp(
        batch, FingerprintStore.loadFingerprints(spark, path))
      .orderBy("doc_id").collect().toSeq
    val digestsBefore = FingerprintStore.loadFingerprints(spark, path)
      .collect().map(_.getString(0)).sorted.toSeq
    val bloomBefore = FingerprintStore.loadBloom(spark, path)
    val before = exactGate()
    val e = FingerprintStore.compact(spark, path)
    assert(e === 3)
    assert(EpochStore.readSegments(spark, path, "fingerprints", e) ===
      Some(Seq(s"fingerprints_s$e")))
    val digestsAfter = FingerprintStore.loadFingerprints(spark, path)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(digestsAfter === digestsBefore, "compaction changed the digest set")
    // the sketch arm is CARRIED byte-compatible: same bits, same capacity
    val bloomAfter = FingerprintStore.loadBloom(spark, path)
    assert(bloomAfter._1.toSeq === bloomBefore._1.toSeq &&
      bloomAfter._2 === bloomBefore._2,
      "compaction must carry the bloom sketch unchanged")
    assert(exactGate() === before)
    FingerprintStore.vacuum(spark, path)
    assert(!new java.io.File(s"$path/fingerprints_s1").exists())
    assert(exactGate() === before)
    // appends (incl. the sketch-merge path) continue after compact+vacuum
    FingerprintStore.append(
      docs.limit(10).select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" novel-after-compact")).as("text")), path)
    assert(FingerprintStore.loadFingerprints(spark, path).count() ===
      digestsBefore.size + 10)
    assertFooterSchemas(path)
  }

  test("sketch merge holds to capacity, then rebuilds with fresh headroom") {
    import spark.implicits._
    val path = tmp("fp-capacity")
    // tiny founding: n = 2, capacity = max(64, 2n) = 64
    FingerprintStore.save(Seq("a", "b").toDF("text"), path)
    val meta1 = spark.read.parquet(s"$path/bloom_e1")
      .select("num_bits", "capacity").head()
    assert(meta1.getLong(1) === 64L)

    // within capacity: merge keeps bit size identical
    FingerprintStore.append((1 to 30).map(i => s"doc-$i").toDF("text"), path)
    val meta2 = spark.read.parquet(s"$path/bloom_e2")
      .select("num_bits", "capacity", "n_items").head()
    assert(meta2.getLong(0) === meta1.getLong(0), "merge must not resize")
    assert(meta2.getLong(1) === 64L)
    assert(meta2.getLong(2) === 32L)

    // overflow: 2 + 30 + 40 > 64 forces the amortized rebuild — new
    // capacity is 2× the grown corpus, bit size grows with it
    FingerprintStore.append((1 to 40).map(i => s"more-$i").toDF("text"), path)
    val meta3 = spark.read.parquet(s"$path/bloom_e3")
      .select("num_bits", "capacity", "n_items").head()
    assert(meta3.getLong(2) === 72L)
    assert(meta3.getLong(1) === 144L)
    assert(meta3.getLong(0) > meta1.getLong(0))
    // and the rebuilt sketch still admits nothing already stored
    val (sketch, _) = FingerprintStore.loadBloom(spark, path)
    val stored = (1 to 40).map(i => (i.toLong, s"more-$i")).toDF("doc_id", "text")
    assert(Dedup.bloomSketchDedup(stored, sketch).count() === 0)
  }
}
