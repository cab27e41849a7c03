package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bm25IndexStore, FingerprintStore, MinHashStore, SimHashStore,
  VectorIndexStore}

/** The segmented stores' shared write path ([[graft.core.EpochStore.Segmented]]),
  * checked once for all five stores:
  *
  *  - a failed append commits nothing: a batch whose rows throw when a
  *    job evaluates them, and a batch missing the input column (refused
  *    at analysis), each leave MANIFEST byte-identical and the prior
  *    epoch loadable with its row count; a later vacuum keeps every
  *    segment the current epoch references, and a later append commits
  *    over the failed one's leftovers;
  *  - a store founded and appended by the code at commit c455567 (before
  *    the stores were declared through the skeleton; the fixture under
  *    `src/test/resources/stores-c455567`) loads and appends, and a store
  *    written now from the same inputs has the same MANIFEST, `.segs`
  *    sidecars, directory names and rows.
  */
class StoreCrashSpec extends SparkSpec {

  private def docs(lo: Int, hi: Int): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") >= lo && col("doc_id") < hi).select("doc_id", "text")

  private def vectors(lo: Int, hi: Int): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") >= lo && col("vec_id") < hi)

  /** One store under test. `input(lo, hi)`: its input rows with `id` in
    * [lo, hi) — the fixture was founded from [0, `founded`) and appended
    * [`founded`, `appended`); `column`: the input column a poisoned batch
    * breaks; `frame`: the committed epoch's rows, failing loudly on an
    * empty store.
    */
  private case class StoreCase(
      name: String, fixture: String,
      input: (Int, Int) => DataFrame, id: String, column: String,
      founded: Int, appended: Int,
      save: (DataFrame, String) => Unit, append: (DataFrame, String) => Unit,
      vacuum: String => Unit, frame: String => DataFrame) {
    def rows(path: String): Long = frame(path).count()
    def snapshot(path: String): Seq[String] =
      frame(path).collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case b: Array[Byte] => b.mkString(",")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
  }

  private val stores = Seq(
    StoreCase("MinHashStore", "minhash", docs, "doc_id", "text", 40, 60,
      MinHashStore.save, MinHashStore.append, MinHashStore.vacuum(spark, _),
      MinHashStore.load(spark, _)),
    StoreCase("SimHashStore", "simhash", docs, "doc_id", "text", 40, 60,
      SimHashStore.save, SimHashStore.append, SimHashStore.vacuum(spark, _),
      SimHashStore.load(spark, _)),
    StoreCase("FingerprintStore", "fingerprint", docs, "doc_id", "text", 40, 60,
      FingerprintStore.save(_, _), FingerprintStore.append(_, _),
      FingerprintStore.vacuum(spark, _), { p =>
        val fp = FingerprintStore.loadFingerprints(spark, p)
        // the carried bloom sketch loads too, sized to the digests
        assert(FingerprintStore.loadBloom(spark, p)._2 === fp.count())
        fp
      }),
    StoreCase("Bm25IndexStore", "bm25", docs, "doc_id", "text", 40, 60,
      Bm25IndexStore.save, Bm25IndexStore.append, Bm25IndexStore.vacuum(spark, _),
      p => Bm25IndexStore.load(spark, p).posts),
    // the carried codebook frames load with the postings
    StoreCase("VectorIndexStore", "vector", vectors, "vec_id", "embedding", 120, 160,
      VectorIndexStore.save(_, _), VectorIndexStore.append,
      VectorIndexStore.vacuum(spark, _), p => VectorIndexStore.load(spark, p).postings))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-crash-$name").resolve("store").toString

  private def bytes(p: String): Seq[Byte] = Files.readAllBytes(Paths.get(p)).toSeq

  private def listing(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.toList finally walk.close()
  }

  /** Every segment dir the committed epoch's `.segs` sidecars name. */
  private def referenced(path: String): Seq[String] = {
    val cur = graft.core.EpochStore.currentEpoch(spark, path)
    new java.io.File(path).list().toSeq.filter(_.endsWith(s"_e$cur.segs"))
      .flatMap(f => Files.readAllLines(Paths.get(path, f)).asScala.filter(_.nonEmpty))
  }

  private def assertReferencedSegmentsExist(path: String): Unit = {
    val segs = referenced(path)
    assert(segs.nonEmpty, s"no segment list at the committed epoch of $path")
    segs.foreach(s => assert(new java.io.File(s"$path/$s").isDirectory, s"$path/$s"))
  }

  stores.foreach { c =>
    test(s"${c.name}: a failed append leaves the prior epoch loadable") {
      intercept[IllegalArgumentException](c.rows(tmp(s"${c.fixture}-empty")))
      val path = tmp(c.fixture)
      c.save(c.input(0, c.founded), path)
      val manifest = bytes(s"$path/MANIFEST")
      val before = c.rows(path)
      assert(before > 0)

      val batch = c.input(c.founded, c.appended)
      // odd ids throw when a job evaluates them: some tasks can write
      // before the job aborts, and analysis has already passed
      val throwing = batch.withColumn(c.column,
        when(col(c.id) % 2 === 1, raise_error(lit("injected row failure")))
          .otherwise(col(c.column)))
      val misnamed = batch.withColumnRenamed(c.column, "wrong_name")
      for (poison <- Seq(throwing, misnamed)) {
        intercept[Exception](c.append(poison, path))
        assert(bytes(s"$path/MANIFEST") === manifest, "a failed append committed")
        assert(c.rows(path) === before)
        c.vacuum(path)
        assertReferencedSegmentsExist(path)
        assert(c.rows(path) === before)
      }

      // a real append commits over the failed attempts' leftovers; the
      // superseded sidecars stay (commits never delete) until vacuum,
      // which keeps every segment the current epoch still references
      c.append(batch, path)
      val after = c.rows(path)
      assert(after > before)
      assert(new java.io.File(path).list().exists(_.endsWith("_e1.segs")))
      c.vacuum(path)
      assert(!new java.io.File(path).list().exists(_.endsWith("_e1.segs")))
      assert(referenced(path).exists(_.endsWith("_s1")), "the founding segment is gone")
      assertReferencedSegmentsExist(path)
      assert(c.rows(path) === after)
    }

    test(s"${c.name}: a store written at c455567 loads, appends and keeps its layout") {
      val fixture = Paths.get(getClass.getResource(s"/stores-c455567/${c.fixture}").toURI)
      val old = tmp(s"${c.fixture}-old")
      listing(fixture.toString).foreach { src =>
        val dst = Paths.get(old).resolve(fixture.relativize(src).toString)
        if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
      }
      val now = tmp(s"${c.fixture}-now")
      c.save(c.input(0, c.founded), now)
      c.append(c.input(c.founded, c.appended), now)

      // same dir and file names (part files and local-FS checksums
      // aside), same pointer files
      def layout(root: String): Map[String, Seq[Byte]] = listing(root)
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.contains("part-") && !p.getFileName.toString.endsWith(".crc"))
        .map(p => Paths.get(root).relativize(p).toString -> {
          val n = p.getFileName.toString
          if (n == "MANIFEST" || n.endsWith(".segs")) bytes(p.toString) else Seq.empty[Byte]
        }).toMap
      assert(layout(old) === layout(now))
      assert(c.snapshot(old) === c.snapshot(now))

      val held = c.rows(old)
      val more = c.input(c.appended, c.appended + 20)
      c.append(more, old)
      c.append(more, now)
      assert(c.rows(old) > held)
      assert(c.snapshot(old) === c.snapshot(now))
      c.vacuum(old)
      assertReferencedSegmentsExist(old)
      assert(c.snapshot(old) === c.snapshot(now))
    }
  }
}
