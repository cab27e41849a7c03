package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHashStore}

/** The persisted-signature fuzzy-ingest loop: gating against a loaded
  * artifact must equal gating against signatures computed from corpus
  * text; the flagged set must match a brute-force banding + estimated-
  * Jaccard reference; append must fold survivors in so the next epoch
  * sees them (a failed append: [[StoreCrashSpec]]).
  */
class MinHashStoreSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("store").toString

  /** Corpus-side signatures computed directly from text — what the store
    * must be a byte-faithful persisted copy of.
    */
  private def freshSigs(corpus: org.apache.spark.sql.DataFrame) = corpus
    .withColumn("sh",
      graft.operators.TextAnalysis.shingles(
        graft.operators.TextAnalysis.tokens(col("text")), 3))
    .where(size(col("sh")) > 0)
    .select(col("doc_id"), Dedup.minhashSignature(col("sh"), 16).as("sig"))

  test("load-then-dedup equals compute-then-dedup") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("mh-eq")
    MinHashStore.save(corpus, path)

    val viaStore = Dedup.minhashIngestDedup(batch, MinHashStore.load(spark, path))
      .orderBy("batch_id", "corpus_id").collect()
    val viaText = Dedup.minhashIngestDedup(batch, freshSigs(corpus))
      .orderBy("batch_id", "corpus_id").collect()
    assert(viaStore.toSeq === viaText.toSeq)
    assert(viaStore.nonEmpty)
  }

  test("flagged pairs match a brute-force banding + est-jaccard reference") {
    val corpus = docs.where(col("doc_id") % 2 === 0).limit(120)
    val batch = docs.where(col("doc_id") % 3 === 0).limit(80)
      .select(col("doc_id"), col("text"))
    val path = tmp("mh-brute")
    MinHashStore.save(corpus, path)

    val got = Dedup.minhashIngestDedup(batch, MinHashStore.load(spark, path))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

    // brute force: all (batch, corpus) signature pairs; candidate iff
    // some band's `rows` consecutive values all agree; flagged iff
    // est = matches/16 >= 0.5
    val bs = freshSigs(batch).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toVector
    val cs = freshSigs(corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toVector
    val want = (for {
      (bid, bsig) <- bs
      (cid, csig) <- cs
      banded = (0 until 8).exists(b =>
        (0 until 2).forall(r => bsig(b * 2 + r) == csig(b * 2 + r)))
      est = (0 until 16).count(i => bsig(i) == csig(i)) / 16.0
      if banded && est >= 0.5
    } yield (bid, cid, est)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("append folds survivors in: re-ingesting the same batch flags everything") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("mh-append")
    MinHashStore.save(corpus, path)

    val f1 = Dedup.minhashIngestDedup(batch, MinHashStore.load(spark, path))
    val survivors = batch.join(
      f1.select(col("batch_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    MinHashStore.append(survivors, path)

    // epoch 2 with the identical batch: every doc with shingles is now a
    // self-match (est = 1) of either the corpus or its appended self
    val again = Dedup.minhashIngestDedup(batch, MinHashStore.load(spark, path))
    val flagged = again.select("batch_id").distinct().count()
    val withSh = freshSigs(batch).count()
    assert(flagged === withSh)

    // and the store is exactly sigs(corpus) ∪ sigs(survivors)
    val stored = MinHashStore.load(spark, path)
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSeq
    val expected = freshSigs(corpus).unionByName(freshSigs(survivors))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSeq
    assert(stored === expected)
  }

  test("compact merges signature segments row-identically; gate unchanged through vacuum") {
    import graft.core.EpochStore
    val path = tmp("mh-compact")
    MinHashStore.save(docs.where(col("doc_id") % 2 === 0), path)
    MinHashStore.append(docs.where(col("doc_id") % 4 === 1), path)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    def gate() = Dedup.minhashIngestDedup(batch, MinHashStore.load(spark, path))
      .orderBy("batch_id", "corpus_id").collect().toSeq
    val sigsBefore = MinHashStore.load(spark, path)
      .select(col("doc_id"), concat_ws(":", col("sig")))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val before = gate()
    val e = MinHashStore.compact(spark, path)
    assert(e === 3)
    assert(EpochStore.readSegments(spark, path, "minhash", e) ===
      Some(Seq(s"minhash_s$e")))
    val sigsAfter = MinHashStore.load(spark, path)
      .select(col("doc_id"), concat_ws(":", col("sig")))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(sigsAfter === sigsBefore, "compaction changed the signature rows")
    assert(gate() === before)
    MinHashStore.vacuum(spark, path)
    assert(!new java.io.File(s"$path/minhash_s1").exists())
    assert(gate() === before)
    MinHashStore.append(
      docs.limit(10).select((col("doc_id") + 500000L).as("doc_id"),
        col("text")), path)
    assert(MinHashStore.load(spark, path).count() > sigsBefore.size)
    assertFooterSchemas(path)
  }

  test("append writes only the batch segment: founding files byte-untouched") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val path = tmp("mh-obatch")
    MinHashStore.save(corpus, path)

    def snapshot(dir: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.isFile)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot(s"$path/minhash_s1")
    assert(before.nonEmpty)

    val batch = docs.where(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
    MinHashStore.append(batch, path)

    // O(batch) append: the founding segment's files are byte-identical
    // (same names, lengths, mtimes) — nothing corpus-sized moved
    assert(snapshot(s"$path/minhash_s1") === before)
    // the new epoch = founding segment + exactly the batch's signatures
    assert(new java.io.File(s"$path/minhash_s2").exists())
    val segRows = spark.read.parquet(s"$path/minhash_s2").count()
    assert(segRows === freshSigs(batch).count())
    assert(MinHashStore.load(spark, path).count() ===
      freshSigs(corpus).count() + segRows)
  }
}
