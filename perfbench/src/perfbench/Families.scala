package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.{Catalog, ForeignKey}
import graft.operators.{Bm25IndexStore, Closure, Dedup, FingerprintStore, IngestGate,
  MinHashStore, TextAnalysis, VectorIndexStore}
import graft.sources.{Dump, DumpSpec}

/** What every op family shares: the session, the tracer, the seed and the
  * directories.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val scratch: Path) {
  def dir(parts: String*): Path = parts.foldLeft(scratch)(_ resolve _)

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Writes generated rows as one parquet file. */
  def write(rows: Seq[Row], schema: StructType, p: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(p.toString)

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Writes the inputs of ops `ops` under `base`, one directory per op
    * (`op=<i>`), in one job.
    */
  def writeOps(base: Path, schema: StructType, ops: Range)(rows: Int => Seq[Row]): Unit = {
    val all = ops.flatMap(i => rows(i).map(r => Row.fromSeq(r.toSeq :+ i)))
    spark.createDataFrame(java.util.Arrays.asList(all: _*),
        schema.add("op", IntegerType, nullable = false))
      .write.mode("append").partitionBy("op").parquet(base.toString)
  }

  /** Op `i`'s inputs under `base`: written by [[writeOps]] up front for the
    * first [[Ctx.PrewrittenOps]] ops, on demand after them.
    */
  def opInput(base: Path, schema: StructType, i: Int)(rows: Int => Seq[Row]): DataFrame = {
    val p = base.resolve(s"op=$i")
    if (!Files.exists(p)) writeOps(base, schema, i to i)(rows)
    spark.read.parquet(p.toString)
  }
}

object Ctx {
  /** Ops whose per-op inputs a family writes in `prepare`: the warmup op
    * and the timed ops of a run, whose rounds take several seconds each.
    */
  val PrewrittenOps = 8
}

/** One kind of op the benchmark times. `op` runs one op and records its
  * samples; it returns the op's check failures.
  */
trait Family {
  /** Generate and write this family's inputs (not part of set-up). */
  def prepare(): Unit
  /** Set-up work, repeated once per founding round (stores founded fresh). */
  def found(round: Int): Unit
  def op(i: Int, opId: Long, rec: Rec): Seq[String]
  /** Called once when warmup ends and timing starts. */
  def startTimed(): Unit = ()
  /** Adds run-level samples after the last op. */
  def finish(rec: Rec): Unit = ()
}

/** `DumpMain --archive` then `LoadMain <zip>`: an FK-closed partial dump of
  * the TPC-H-shaped graph, archived, then unarchived and loaded. Each op's
  * seed rows are the line items of about 20 orders (a residue class of
  * order keys modulo 250, rotated per op from the seed); the closure pulls
  * their orders, parts, suppliers, customers with their manager chains
  * (the self-FK), nations and regions. Orders sit on the leaves of a
  * manager tree of depth 6, so the recursive closure climbs six levels on
  * every dump; each level costs about five Spark jobs, and at this depth a
  * dump write runs about 73 jobs, as a narrow dump of the scale-0.1 TPC-H
  * graph does (a scale-0.1-sized tree, 13 levels, runs about 108).
  */
final class DumpFamily(c: Ctx) extends Family {
  import c._
  private val tp = new Tpch(seed, customers = (1 << 7) - 1, orders = 5000, parts = 1000,
    suppliers = 100)
  private val modulus = 250L
  private val src = dir("in", "tpch")
  private var catalog: Catalog = _
  private var sumZip = 0L
  private var sumRows = 0L
  private var sumDumpNs = 0L

  def prepare(): Unit = {
    tp.tables.foreach { t =>
      val (schema, rows) = tp.rows(t)
      write(rows.toSeq, schema, src.resolve(s"$t.parquet"))
    }
  }

  /** The catalog as the dump CLI builds it: declared FK/PK metadata, every
    * table's schema resolved from its files.
    */
  def found(round: Int): Unit = {
    catalog = new Catalog(spark, src.toString, tp.tables,
      tp.foreignKeys.map { case (t, col, ft, fc) => ForeignKey(t, col, ft, fc) },
      tp.primaryKeys)
    tp.tables.foreach(t => catalog.table(t).schema)
  }

  /** The seed class op `i` dumps: a rotation derived from the seed. */
  def residue(i: Int): Long = DumpFamily.residue(seed, i, modulus)

  private def selection(r: Long): DataFrame =
    catalog.table("lineitem").where(col("l_orderkey") % modulus === r)

  def op(i: Int, opId: Long, rec: Rec): Seq[String] = {
    val r = residue(i)
    val w = dir("op", "dump")
    delete(w)
    val (dump, zip, un, target) =
      (w.resolve("dump").toString, w.resolve("dump.zip").toString,
        w.resolve("un").toString, w.resolve("target").toString)
    val t0 = System.nanoTime()
    tracer.span("dump_write", opId) {
      Dump.write(catalog, DumpSpec(partialTables = Map("lineitem" -> selection(r))), dump)
    }
    tracer.span("archive", opId) { Dump.archive(spark, dump, zip, "deflated") }
    val t1 = System.nanoTime()
    tracer.span("unarchive", opId) { Dump.unarchive(spark, zip, un) }
    tracer.span("load_into", opId) { Dump.loadInto(spark, un, target) }
    val t2 = System.nanoTime()
    rec.add("dump_s", secs(t0, t1))
    rec.add("restore_s", secs(t1, t2))
    if (tracer.active) {
      rec.add("dump.untraced.s", tracer.untraced(opId, t0, t2))
      tracer.span("closure", opId) {
        Closure.relatedData(catalog, Nil, Map("lineitem" -> selection(r))).foreach {
          case (_, df) => df.write.format("noop").mode("overwrite").save()
        }
      }
      tracer.span("read_manifest", opId) { Dump.readManifest(spark, un) }
    }

    val manifest = Checks.manifestRows(w.resolve("dump"))
    val rows = manifest.values.sum
    val zipBytes = Files.size(w.resolve("dump.zip"))
    rec.add("rows", rows.toDouble)
    rec.add("archive.bytes", zipBytes.toDouble)
    val fails = DumpFamily.check(tp, w.resolve("dump"), w.resolve("un"), w.resolve("target"),
      modulus, r)
    delete(w)
    if (fails.isEmpty) {
      sumZip += zipBytes
      sumRows += rows
      sumDumpNs += t1 - t0
    }
    fails
  }

  override def startTimed(): Unit = { sumZip = 0L; sumRows = 0L; sumDumpNs = 0L }

  /** Archive bytes per dumped row and dumped rows per second of dump time,
    * as ratios of sums over the timed ops.
    */
  override def finish(rec: Rec): Unit = if (sumRows > 0) {
    rec.add("archive_bytes_per_row", sumZip.toDouble / sumRows)
    rec.add("dump_rows_per_s", sumRows / (sumDumpNs / 1e9))
  }

}

object DumpFamily {
  /** The residue class op `i` dumps: a rotation derived from the seed. */
  def residue(seed: Long, i: Int, modulus: Long): Long =
    Gen.rng(seed, "dump.rotation", i).nextLong(modulus)

  /** Checks one round trip of the seed class `residue` (see
    * [[Checks.sameFiles]] and [[Checks.restored]]).
    */
  def check(tp: Tpch, dump: Path, unarchived: Path, target: Path, modulus: Long,
      residue: Long): Seq[String] = {
    val expected = tp.closure(modulus, residue)
    Checks.sameFiles(dump, unarchived) ++
      Checks.restored(loaded(tp, target), tp.foreignKeys, key, Checks.manifestRows(dump),
        expected("lineitem"), expected)
  }

  /** The key and FK columns of every restored table, read with parquet's
    * own reader rather than through Spark.
    */
  def loaded(tp: Tpch, target: Path): Map[String, Checks.Table] = tp.tables.map { t =>
    val cols = (tp.primaryKeys(t) ++ tp.foreignKeys.filter(_._1 == t).map(_._2) ++
      tp.foreignKeys.filter(_._3 == t).map(_._4)).distinct
    t -> readColumns(target.resolve(s"$t.parquet"), cols)
  }.toMap

  /** Integer columns of every parquet file under `dir`; None for NULL. */
  def readColumns(dir: Path, cols: Seq[String]): Checks.Table = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val out = cols.map(_ => IndexedSeq.newBuilder[Option[Long]])
    Checks.files(dir).values.filter(_.toString.endsWith(".parquet")).toSeq.sorted.foreach { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.toUri)).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          cols.zip(out).foreach { case (c, b) =>
            b += (if (g.getFieldRepetitionCount(c) == 0) None
              else if (g.getType.getType(c).asPrimitiveType.getPrimitiveTypeName ==
                PrimitiveTypeName.INT32) Some(g.getInteger(c, 0).toLong)
              else Some(g.getLong(c, 0)))
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    cols.zip(out.map(_.result())).toMap
  }

  /** Primary keys of a restored table; line items as `orderkey * 16 + line`. */
  def key(t: String, tbl: Checks.Table): IndexedSeq[Long] = t match {
    case "lineitem" => tbl("l_orderkey").zip(tbl("l_linenumber"))
      .map { case (o, l) => o.get * 16 + l.get }
    case _ => tbl(Map("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey", "part" -> "p_partkey",
      "orders" -> "o_orderkey")(t)).map(_.get)
  }
}

/** `IngestMain --batch --append`: gate one crawl batch against the
  * fingerprint and MinHash stores, write the survivors, fold them into both
  * stores; compact and vacuum both stores after every [[CompactEvery]]th
  * batch.
  */
final class IngestFamily(c: Ctx) extends Family {
  import c._
  private val crawl = new Crawl(seed, corpusSize = 1000, batchSize = 200)
  private val CompactEvery = 2
  private val corpusPath = dir("in", "crawl_corpus")
  private var stores: Path = _
  private def fp = stores.resolve("fingerprints").toString
  private def mh = stores.resolve("minhash").toString
  private val digests = mutable.HashSet.empty[String]
  /** Text of every document the stores hold, as parquet directories. */
  private val held = mutable.ArrayBuffer.empty[String]
  private var docsHeld = 0L
  private var cycleDocs = 0L
  private var cycleNs = 0L
  private var sumDocs = 0L
  private var sumNs = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private val batchesPath = dir("in", "crawl_batches")
  private def batchRows(i: Int): Seq[Row] = crawl.batch(i).rows.map { case (id, t) => Row(id, t) }

  def prepare(): Unit = {
    write(crawl.corpus.map { case (id, t) => Row(id, t) }, docSchema, corpusPath)
    writeOps(batchesPath, docSchema, 0 until Ctx.PrewrittenOps)(batchRows)
  }

  def found(round: Int): Unit = {
    val next = dir("stores", s"crawl_$round")
    val corpus = spark.read.parquet(corpusPath.toString)
    FingerprintStore.save(corpus, next.resolve("fingerprints").toString)
    MinHashStore.save(corpus, next.resolve("minhash").toString)
    if (stores != null) delete(stores)
    stores = next
    digests.clear()
    crawl.corpus.foreach { case (_, t) => digests += Gen.md5Hex(t) }
    held.clear()
    held += corpusPath.toString
    docsHeld = crawl.corpus.size
  }

  def op(i: Int, opId: Long, rec: Rec): Seq[String] = {
    val b = crawl.batch(i)
    val out = dir("op", "ingest")
    delete(out)
    val batch = opInput(batchesPath, docSchema, i)(batchRows)
    if (tracer.active) traceStages(batch, b, opId, rec)

    val t0 = System.nanoTime()
    val (fps, sigs) = tracer.span("store.load", opId) {
      (FingerprintStore.loadFingerprints(spark, fp), MinHashStore.load(spark, mh))
    }
    val stages = tracer.span("gate.stages", opId) { IngestGate.gateStages(batch, fps, sigs) }
    val survivors = tracer.span("gate.survivors_write", opId) {
      val s = stages.survivors.localCheckpoint()
      s.write.mode("overwrite").parquet(out.toString)
      s
    }
    val t1 = System.nanoTime()
    tracer.span("store.append", opId) {
      FingerprintStore.append(survivors, fp)
      MinHashStore.append(survivors, mh)
    }
    val t2 = System.nanoTime()
    val compacts = i % CompactEvery == CompactEvery - 1
    if (compacts) tracer.span("store.compact", opId) {
      FingerprintStore.compact(spark, fp)
      MinHashStore.compact(spark, mh)
      FingerprintStore.vacuum(spark, fp)
      MinHashStore.vacuum(spark, mh)
    }
    val t3 = System.nanoTime()
    rec.add("gate_batch_s", secs(t0, t1))
    rec.add("ingest_batch_s", secs(t0, t2))
    if (compacts) rec.add("compact_s", secs(t2, t3))
    if (tracer.active) rec.add("ingest.untraced.s", tracer.untraced(opId, t0, t3))
    cycleDocs += b.rows.size
    cycleNs += t3 - t0

    val kept = spark.read.parquet(out.toString).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (fails, nearRate) = Checks.gated(b, kept, digests)
    rec.add("gate.fuzzy.neardup_drop_rate", nearRate)
    kept.foreach { case (_, t) => digests += Gen.md5Hex(t) }
    val keptPath = dir("in", s"crawl_held_$i")
    Files.move(out, keptPath)
    held += keptPath.toString
    docsHeld += kept.size
    if (compacts) {
      sumDocs += cycleDocs
      sumNs += cycleNs
      rec.add("store_bytes_per_doc",
        (bytesUnder(stores.resolve("fingerprints")) + bytesUnder(stores.resolve("minhash"))).toDouble / docsHeld)
      cycleDocs = 0L
      cycleNs = 0L
    }
    fails
  }

  override def startTimed(): Unit = {
    cycleDocs = 0L
    cycleNs = 0L
    sumDocs = 0L
    sumNs = 0L
  }

  /** Docs offered over gate + append + compaction time, over the timed
    * compaction cycles.
    */
  override def finish(rec: Rec): Unit =
    if (sumNs > 0) rec.add("ingest_docs_per_s", sumDocs / (sumNs / 1e9))

  /** Live segments of a store family, read from the store's files: the
    * committed epoch in `MANIFEST`, its segment list in `<name>_e<epoch>.segs`.
    */
  private def segments(store: String, name: String): Int = {
    def read(f: String) = new String(Files.readAllBytes(java.nio.file.Paths.get(store, f)), "UTF-8")
    val e = read("MANIFEST").trim
    read(s"${name}_e$e.segs").split('\n').count(_.trim.nonEmpty)
  }

  /** Times the gate's three stages one by one, as separate calls. */
  private def traceStages(batch: DataFrame, b: CrawlBatch, opId: Long, rec: Rec): Unit = {
    import org.apache.spark.sql.functions.sum
    val fps = FingerprintStore.loadFingerprints(spark, fp)
    val sigs = MinHashStore.load(spark, mh)
    val qd = tracer.span("gate.quality", opId) {
      batch.join(TextAnalysis.qualityScore(batch).where(col("passes_quality"))
        .select(col("doc_id"), col("n_tokens")), Seq("doc_id")).localCheckpoint()
    }
    val nq = qd.count()
    val exd = tracer.span("gate.exact", opId) {
      qd.join(Dedup.incrementalDedupFp(qd, fps).select(col("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint()
    }
    val ne = exd.count()
    val flagged = tracer.span("gate.fuzzy", opId) { Dedup.minhashIngestDedup(exd, sigs).collect() }
    rec.add("gate.quality.dropped", (b.rows.size - nq).toDouble)
    rec.add("gate.exact.dropped", (nq - ne).toDouble)
    rec.add("gate.fuzzy.dropped", flagged.map(_.getLong(0)).distinct.length.toDouble)
    // candidate band-pair volume the fuzzy join touches: pairs involving
    // at least one batch document, over the stored documents plus the batch
    val stored = spark.read.parquet(held.toSeq: _*).select("doc_id", "text")
    def volume(df: DataFrame): Long = Option(Dedup.lshPairVolume(df)
      .agg(sum("cand_pairs")).head().get(0)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val cand = volume(stored.unionByName(exd.select("doc_id", "text"))) - volume(stored)
    rec.add("gate.fuzzy.cand_pairs", cand.toDouble)
    rec.add("gate.fuzzy.useful_ratio", flagged.length.toDouble / math.max(cand, 1L))
    rec.add("store.segments", (segments(fp, "fingerprints") + segments(mh, "minhash")).toDouble)
  }
}

/** `IndexMain --search`: one query batch answered by the BM25 store (on an
  * index loaded once) and one by the vector store.
  */
final class ServeFamily(c: Ctx) extends Family {
  import c._
  private val sv = new Serving(seed, docs = 2000, dim = 32, queriesPerBatch = 16)
  private val K = 10
  /** IVF knobs as `IndexMain --cent-every` / `--nprobe` take them: about 60
    * cells, three probed per query, so every query reaches k candidates.
    */
  private val CentEvery = 32
  private val NProbe = 3
  private val docsPath = dir("in", "serve_docs")
  private val vecsPath = dir("in", "serve_vecs")
  private var stores: Path = _
  private def bm = stores.resolve("bm25").toString
  private def vx = stores.resolve("vectors").toString
  private var loaded: Bm25IndexStore.Loaded = _
  private var sampled = false
  private var hits = 0L
  private var asked = 0L

  private val termSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("terms", ArrayType(StringType, containsNull = false), nullable = false)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  private val termsPath = dir("in", "serve_terms")
  private val qvecsPath = dir("in", "serve_qvecs")
  private def termRows(i: Int): Seq[Row] = sv.termBatch(i).map { case (id, ts) => Row(id, ts) }
  private def qvecRows(i: Int): Seq[Row] = sv.vectorBatch(i).map { case (id, v) => Row(id, v.toSeq) }

  def prepare(): Unit = {
    write(sv.corpus.map { case (id, t) => Row(id, t) }, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))), docsPath)
    write(sv.vectors.map { case (id, v) => Row(id, v.toSeq) }, vecSchema, vecsPath)
    writeOps(termsPath, termSchema, 0 until Ctx.PrewrittenOps)(termRows)
    writeOps(qvecsPath, vecSchema, 0 until Ctx.PrewrittenOps)(qvecRows)
  }

  def found(round: Int): Unit = {
    val next = dir("stores", s"serve_$round")
    Bm25IndexStore.save(spark.read.parquet(docsPath.toString), next.resolve("bm25").toString)
    VectorIndexStore.save(spark.read.parquet(vecsPath.toString), next.resolve("vectors").toString,
      centEvery = CentEvery)
    if (stores != null) delete(stores)
    stores = next
    loaded = Bm25IndexStore.load(spark, bm)
  }

  override def startTimed(): Unit = { hits = 0L; asked = 0L }

  /** Recall@10 of the vector store against exact kNN over the timed batches. */
  override def finish(rec: Rec): Unit =
    if (asked > 0) rec.add("vector.recall_at_10", hits.toDouble / asked)

  def op(i: Int, opId: Long, rec: Rec): Seq[String] = {
    val tq = sv.termBatch(i)
    val vq = sv.vectorBatch(i)
    val terms = opInput(termsPath, termSchema, i)(termRows)
    val qvecs = opInput(qvecsPath, vecSchema, i)(qvecRows)

    val t0 = System.nanoTime()
    val bans = tracer.span("bm25.search", opId) {
      Bm25IndexStore.search(spark, loaded, terms, K, 1.2, 0.75, 1024, 1024).collect()
    }
    val t1 = System.nanoTime()
    val vans = tracer.span("vector.search", opId) {
      VectorIndexStore.search(qvecs, vx, kNN = K, nprobe = NProbe).collect()
    }
    val t2 = System.nanoTime()
    rec.add("serve_batch_s", secs(t0, t2))
    rec.add("bm25_batch_s", secs(t0, t1))
    rec.add("vector_batch_s", secs(t1, t2))
    if (tracer.active) {
      rec.add("serve.untraced.s", tracer.untraced(opId, t0, t2))
      tracer.span("bm25.load", opId) { Bm25IndexStore.load(spark, bm) }
      tracer.span("vector.load", opId) { VectorIndexStore.load(spark, vx) }
    }

    val b = bans.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val v = vans.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var fails = Checks.ranked("bm25", tq.map(_._1), b.map(x => (x._1, x._2, x._3)), K, exact = false) ++
      Checks.ranked("vector", vq.map(_._1), v, K, exact = true)
    if (!sampled) {
      // one sampled batch per run against the corpus-pass operator
      sampled = true
      val want = TextAnalysis.bm25TopKBatch(spark.read.parquet(docsPath.toString), terms, K)
        .select("query_id", "doc_id", "rank", "score").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      fails ++= Checks.sameAnswers("bm25 store", b, want)
    }
    val got = v.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    vq.foreach { case (q, vec) =>
      hits += sv.exactTopK(vec, K).count(got.getOrElse(q, Set.empty[Long]))
      asked += K
    }
    fails
  }
}
