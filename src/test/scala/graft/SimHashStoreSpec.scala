package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimHashStore}

/** The Hamming-bounded fuzzy-ingest loop: gating against a loaded
  * artifact must equal gating against signatures computed from corpus
  * text; the gate must EXACTLY match a brute-force Hamming join (the
  * 4-chunk pigeonhole guarantee — stronger than MinHash's probabilistic
  * banding); append must fold survivors in (a failed append:
  * [[StoreCrashSpec]]).
  */
class SimHashStoreSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("store").toString

  test("load-then-dedup equals compute-then-dedup") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("sh-eq")
    SimHashStore.save(corpus, path)

    val viaStore = Dedup.simhashIngestDedup(batch, SimHashStore.load(spark, path))
      .orderBy("batch_id", "corpus_id").collect()
    val viaText = Dedup.simhashIngestDedup(batch, Dedup.simhash(corpus))
      .orderBy("batch_id", "corpus_id").collect()
    assert(viaStore.toSeq === viaText.toSeq)
    assert(viaStore.nonEmpty)
  }

  test("gate matches the brute-force Hamming join exactly (pigeonhole)") {
    val corpus = docs.where(col("doc_id") % 2 === 0).limit(120)
    val batch = docs.where(col("doc_id") % 3 === 0).limit(80)
      .select(col("doc_id"), col("text"))
    val path = tmp("sh-brute")
    SimHashStore.save(corpus, path)

    val got = Dedup.simhashIngestDedup(batch, SimHashStore.load(spark, path))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

    val bs = Dedup.simhash(batch).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toVector
    val cs = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toVector
    val want = (for {
      (bid, bsim) <- bs
      (cid, csim) <- cs
      h = java.lang.Long.bitCount(bsim ^ csim)
      if h <= 3
    } yield (bid, cid, h.toLong)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("append folds survivors in: re-ingesting the same batch flags everything") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val path = tmp("sh-append")
    SimHashStore.save(corpus, path)

    val f1 = Dedup.simhashIngestDedup(batch, SimHashStore.load(spark, path))
    val survivors = batch.join(
      f1.select(col("batch_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    SimHashStore.append(survivors, path)

    // epoch 2 with the identical batch: every doc with tokens is now a
    // hamming-0 self-match of either the corpus or its appended self
    val again = Dedup.simhashIngestDedup(batch, SimHashStore.load(spark, path))
    val flagged = again.select("batch_id").distinct().count()
    val withToks = Dedup.simhash(batch).count()
    assert(flagged === withToks)

    // and the store is exactly simhash(corpus) ∪ simhash(survivors)
    val stored = SimHashStore.load(spark, path)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Dedup.simhash(corpus).unionByName(Dedup.simhash(survivors))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stored === expected)
  }

  test("compact merges signature segments row-identically; gate unchanged through vacuum") {
    import graft.core.EpochStore
    val path = tmp("sh-compact")
    SimHashStore.save(docs.where(col("doc_id") % 2 === 0), path)
    SimHashStore.append(docs.where(col("doc_id") % 4 === 1), path)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    def gate() = Dedup.simhashIngestDedup(batch, SimHashStore.load(spark, path))
      .orderBy("batch_id", "corpus_id").collect().toSeq
    val sigsBefore = SimHashStore.load(spark, path)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val before = gate()
    val e = SimHashStore.compact(spark, path)
    assert(e === 3)
    assert(EpochStore.readSegments(spark, path, "simhash", e) ===
      Some(Seq(s"simhash_s$e")))
    val sigsAfter = SimHashStore.load(spark, path)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    assert(sigsAfter === sigsBefore, "compaction changed the signature rows")
    assert(gate() === before)
    SimHashStore.vacuum(spark, path)
    assert(!new java.io.File(s"$path/simhash_s1").exists())
    assert(gate() === before)
    assertFooterSchemas(path)
  }

  test("append writes only the batch segment: founding files byte-untouched") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val path = tmp("sh-obatch")
    SimHashStore.save(corpus, path)
    def snapshot(dir: String): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.isFile)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val before = snapshot(s"$path/simhash_s1")
    assert(before.nonEmpty)

    val batch = docs.where(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
    SimHashStore.append(batch, path)
    assert(snapshot(s"$path/simhash_s1") === before,
      "O(batch) append must not rewrite the founding segment")
    assert(spark.read.parquet(s"$path/simhash_s2").count() ===
      Dedup.simhash(batch).count())
  }
}
