package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{CodebookStore, Similarity}

/** Trained-codebook persistence: a deployment trains once and searches for
  * months, so save → load must reconstruct the exact trained array and the
  * loaded codebook must drive a search whose results are identical to the
  * in-memory-codebook run.
  */
class CodebookStoreSpec extends SparkSpec {

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("cb").toString

  test("PQ codebook round-trips exactly and drives an identical search") {
    val trained = Similarity.trainPqCodebook(emb, m = 8, k = 16, sampleN = 500)
    val path = tmp("pq")
    CodebookStore.savePqCodebook(spark, trained, m = 8, k = 16, path)
    val (m, k, loaded) = CodebookStore.loadPqCodebook(spark, path)
    assert(m === 8)
    assert(k === 16)
    // exact: parquet doubles round-trip IEEE bits
    assert(java.util.Arrays.equals(loaded, trained))

    val q = col("vec_id") % 200 === 0
    val mem = Similarity.pqSearch(emb, q, kNN = 5, codebook = Some(trained))
      .orderBy("query_id", "rank").collect()
    val disk = Similarity.pqSearch(emb, q, kNN = 5, codebook = Some(loaded))
      .orderBy("query_id", "rank").collect()
    assert(mem.toSeq === disk.toSeq)
  }

  test("IVF codebook round-trips exactly and drives an identical search") {
    val trained = Similarity.trainIvfCodebook(emb, k = 13, sampleN = 500)
    val path = tmp("ivf")
    CodebookStore.saveIvfCodebook(spark, trained, path)
    val loaded = CodebookStore.loadIvfCodebook(spark, path)
    assert(loaded.length === trained.length)
    trained.zip(loaded).foreach { case ((idT, vT), (idL, vL)) =>
      assert(idT === idL)
      assert(java.util.Arrays.equals(vT, vL))
    }

    val q = col("vec_id") % 200 === 0
    val mem = Similarity.annIvf(emb, q, k = 5, nprobe = 2, codebook = Some(trained))
      .orderBy("query_id", "rank").collect()
    val disk = Similarity.annIvf(emb, q, k = 5, nprobe = 2, codebook = Some(loaded))
      .orderBy("query_id", "rank").collect()
    assert(mem.toSeq === disk.toSeq)
  }

  test("composed IVFADC search is identical from loaded codebooks") {
    val ivf = Similarity.trainIvfCodebook(emb, k = 13, sampleN = 500)
    val pq = Similarity.trainPqCodebook(emb, m = 8, k = 16, sampleN = 500)
    val ivfPath = tmp("ivfadc-ivf")
    val pqPath = tmp("ivfadc-pq")
    CodebookStore.saveIvfCodebook(spark, ivf, ivfPath)
    CodebookStore.savePqCodebook(spark, pq, m = 8, k = 16, pqPath)
    val ivfL = CodebookStore.loadIvfCodebook(spark, ivfPath)
    val (_, _, pqL) = CodebookStore.loadPqCodebook(spark, pqPath)

    val q = col("vec_id") % 200 === 0
    val mem = Similarity.ivfPqSearch(emb, q, kNN = 5, nprobe = 2,
        ivfCodebook = Some(ivf), pqCodebook = Some(pq), residual = true)
      .orderBy("query_id", "rank").collect()
    val disk = Similarity.ivfPqSearch(emb, q, kNN = 5, nprobe = 2,
        ivfCodebook = Some(ivfL), pqCodebook = Some(pqL), residual = true)
      .orderBy("query_id", "rank").collect()
    assert(mem.toSeq === disk.toSeq)
  }

  test("loaders fail loudly on gappy or ragged artifacts") {
    // gappy PQ artifact: drop one (subspace, centroid) cell
    val pqPath = tmp("gappy")
    val trained = Similarity.trainPqCodebook(emb, m = 4, k = 4, sampleN = 100)
    CodebookStore.savePqCodebook(spark, trained, m = 4, k = 4, pqPath)
    val gappy = tmp("gappy2")
    spark.read.parquet(pqPath)
      .where(!(col("subspace") === 0 && col("centroid_id") === 0))
      .write.parquet(gappy)
    val e = intercept[IllegalArgumentException] {
      CodebookStore.loadPqCodebook(spark, gappy)
    }
    assert(e.getMessage.contains("expected m × k"))

    val emptyErr = intercept[IllegalArgumentException] {
      CodebookStore.saveIvfCodebook(spark, Array.empty, tmp("empty"))
    }
    assert(emptyErr.getMessage.contains("empty"))
  }

  test("a codebook path is write-once: a second save fails and the first still loads") {
    val pq = Similarity.trainPqCodebook(emb, m = 4, k = 4, sampleN = 100)
    val pqPath = tmp("once-pq")
    CodebookStore.savePqCodebook(spark, pq, m = 4, k = 4, pqPath)
    val retrained = pq.map(_ + 1.0)
    val pqErr = intercept[IllegalArgumentException] {
      CodebookStore.savePqCodebook(spark, retrained, m = 4, k = 4, pqPath)
    }
    assert(pqErr.getMessage.contains(pqPath))
    val (m, k, loaded) = CodebookStore.loadPqCodebook(spark, pqPath)
    assert((m, k) === ((4, 4)))
    assert(java.util.Arrays.equals(loaded, pq), "the first PQ codebook changed")

    val ivf = Similarity.trainIvfCodebook(emb, k = 5, sampleN = 100)
    val ivfPath = tmp("once-ivf")
    CodebookStore.saveIvfCodebook(spark, ivf, ivfPath)
    val ivfErr = intercept[IllegalArgumentException] {
      CodebookStore.saveIvfCodebook(spark, ivf.map { case (id, v) => (id, v.map(_ * 2)) },
        ivfPath)
    }
    assert(ivfErr.getMessage.contains(ivfPath))
    val reloaded = CodebookStore.loadIvfCodebook(spark, ivfPath) // cell_id order
    val want = ivf.sortBy(_._1)
    assert(reloaded.map(_._1).toSeq === want.map(_._1).toSeq)
    assert(reloaded.zip(want).forall { case ((_, a), (_, b)) => java.util.Arrays.equals(a, b) },
      "the first IVF codebook changed")
  }
}
