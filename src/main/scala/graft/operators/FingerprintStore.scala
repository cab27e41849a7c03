package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{EpochStore, FileIO, ParquetFiles}

/** Persistence for the exact-dedup fingerprint corpus.
  *
  * [[Dedup.incrementalDedup]] and [[Dedup.bloomIngestDedup]] describe a
  * production ingest loop — every new crawl batch deduped against
  * everything already accepted — but on their own they re-reduce the
  * accepted corpus's text to fingerprints on EVERY ingest. At 100 TB that
  * re-read is the whole cost: the accepted side must be a maintained
  * artifact, the way [[CodebookStore]] persists trained codebooks and
  * `Dedup.ngramIndex` persists the inverted index. This store keeps two
  * sibling artifacts under one path:
  *
  *  - `<path>/fingerprints_sK` segment dirs — the accepted corpus's
  *    DISTINCT 16-byte md5 text digests (hex strings), one segment per
  *    founding/append epoch, each epoch's live list in the
  *    `fingerprints_eN.segs` sidecar ([[graft.core.EpochStore]]
  *    segmented epochs). At 10⁹ accepted docs the union is a ~33 GB
  *    table — a normal parquet dataset, never a driver object, and
  *    never rewritten after its founding segment lands.
  *  - `<path>/bloom_eN` — ONE serialized Bloom sketch over the 60-bit
  *    hex-hash key that [[Dedup.bloomIngestDedup]] filters on (derived
  *    from the md5 digest, so the sketch is rebuildable from the
  *    fingerprint table alone), plus its sizing metadata. Sized at
  *    founding for a CAPACITY (2× the founding count by default, or the
  *    `expectedItems` deployment knob) so appends MERGE an O(batch)
  *    batch sketch into it instead of re-aggregating the corpus;
  *    ~9.6 bits per capacity slot at fpp = 1 %.
  *
  * The per-ingest loop then reads fingerprints (an anti-join against
  * 16-byte keys — AQE broadcasts it while the accepted set is small) or
  * the sketch (pure map-side, zero shuffle), and [[append]] folds the
  * batch's surviving digests back in — the accepted corpus's TEXT is
  * never touched again after its one founding reduction, and the
  * accepted corpus's DIGESTS are never rewritten: append writes only
  * the batch's novel digests as a new segment. The one corpus-volume
  * cost an append still pays is a single column-pruned map-side SCAN of
  * the digest segments (to keep the stored union exactly-distinct
  * against pre-gate callers) — a read, not a shuffle or rewrite, and
  * the Bloom arm of the gate typically makes the batch side tiny first.
  *
  * Durability: [[graft.core.EpochStore.Segmented]].
  */
object FingerprintStore {

  private val store = new EpochStore.Segmented("FingerprintStore",
    Seq("fingerprints" -> identity[DataFrame] _), carried = Seq("bloom"))

  /** The 60-bit long key the Bloom sketch is built over — shared with
    * [[Dedup.bloomSketchDedup]]'s probe side.
    */
  private def bloomKey(fp: DataFrame): DataFrame =
    fp.select(conv(substring(col("text_md5"), 1, 15), 16, 10)
      .cast("long").as("k"))

  /** Reduce `corpus` (a `text` column) to its fingerprint artifact at
    * `path`: distinct md5 digests + the Bloom sketch sized for them.
    * `expectedItems` pre-sizes the sketch for the corpus the deployment
    * expects to GROW to — appends past the capacity trigger an
    * O(corpus-read) sketch rebuild (amortized geometric, the ArrayList
    * discipline), so size it once at founding for a store that must
    * never pause.
    */
  def save(corpus: DataFrame, path: String, fpp: Double = 0.01,
      expectedItems: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    store.write(spark, path, EpochStore.currentEpoch(spark, path)) { next =>
      val seg = store.segment(path, "fingerprints", next)
      corpus.select(md5(col("text")).as("text_md5")).distinct()
        .write.mode("overwrite").parquet(seg)
      rebuildBloom(spark, path, next, Seq(seg), fpp, expectedItems)
    }
  }

  /** Parquet paths for artifact `name`: the committed epoch's segments,
    * or — when no MANIFEST was ever committed — the pre-epoch flat
    * layout this store wrote before the EpochStore hardening
    * (`<path>/fingerprints`), so artifacts persisted by the old code
    * stay readable instead of failing "no committed epoch" with a valid
    * table sitting right there. The next [[appendFingerprints]] reads
    * through this fallback and references the flat dir AS the founding
    * segment of epoch 1 — migrating the store forward with zero I/O.
    */
  private def artifactPaths(
      spark: SparkSession, path: String, name: String): Seq[String] = {
    val e = EpochStore.currentEpoch(spark, path)
    require(e > 0 || FileIO.exists(spark, s"$path/$name"),
      s"no committed FingerprintStore epoch (and no pre-epoch $name " +
        s"layout) at $path")
    EpochStore.artifactPaths(spark, path, name, e)
  }

  /** The persisted distinct-digest table (`text_md5`) — the existing side
    * for [[Dedup.incrementalDedupFp]].
    */
  def loadFingerprints(spark: SparkSession, path: String): DataFrame =
    ParquetFiles.read(spark, artifactPaths(spark, path, "fingerprints"): _*)

  /** The digest table at a SPECIFIC committed epoch — superseded epochs
    * stay readable until [[vacuum]] (streaming replay reads the epoch a
    * micro-batch originally gated against,
    * [[graft.streaming.StreamingIngestGate]]). Pre-epoch flat layouts
    * have no pinnable epochs; found the store first.
    */
  def loadFingerprintsEpoch(
      spark: SparkSession, path: String, e: Long): DataFrame =
    store.loadFamily(spark, path, e, "fingerprints")

  /** The persisted Bloom sketch bytes (the filter side for
    * [[Dedup.bloomSketchDedup]]) plus the item count it was sized for.
    */
  def loadBloom(spark: SparkSession, path: String): (Array[Byte], Long) = {
    val r = ParquetFiles.read(spark,
      artifactPaths(spark, path, "bloom").head)
      .select(col("sketch"), col("n_items")).head()
    (r.getAs[Array[Byte]](0), r.getLong(1))
  }

  /** Fold a batch's ACCEPTED digests into the store as a NEW segment of
    * the next epoch. Only the batch's NOVEL digests are written —
    * O(batch) write I/O regardless of corpus age; the persisted
    * segments are referenced, never rewritten. Novelty is established
    * without shuffling the corpus: the digest segments stream ONCE
    * map-side against the broadcast batch (a left-semi that can emit at
    * most |batch| rows), and those matched keys broadcast back for the
    * anti side — so a caller that appends digests it never gated (or a
    * batch overlapping the corpus) still leaves the stored union
    * exactly distinct. The sketch artifact merges an O(batch) batch
    * sketch into the persisted filter while the capacity holds, and
    * rebuilds (amortized, geometric headroom) when it does not.
    */
  def appendFingerprints(
      acceptedDigests: DataFrame, path: String, fpp: Double = 0.01): Unit = {
    val spark = acceptedDigests.sparkSession
    val cur = EpochStore.currentEpoch(spark, path)
    // the prior digest dirs — at epoch 0 the pre-epoch flat layout, which
    // the new epoch's list references as its founding segment
    val prior = artifactPaths(spark, path, "fingerprints")
    store.write(spark, path, cur, extend = true) { next =>
      val batchD = acceptedDigests.select(col("text_md5")).distinct()
      val dups = ParquetFiles.read(spark, prior: _*)
        .join(broadcast(batchD), Seq("text_md5"), "left_semi")
      val novel = batchD.join(broadcast(dups), Seq("text_md5"), "left_anti")
      val seg = store.segment(path, "fingerprints", next)
      novel.write.mode("overwrite").parquet(seg)
      appendBloom(spark, path, cur, next, prior :+ seg, fpp)
    }
  }

  /** [[appendFingerprints]] from accepted documents (a `text` column). */
  def append(accepted: DataFrame, path: String, fpp: Double = 0.01): Unit =
    appendFingerprints(
      accepted.select(md5(col("text")).as("text_md5")), path, fpp)

  /** Drop superseded epochs ([[graft.core.EpochStore.Segmented.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Unit =
    store.vacuum(spark, path)

  /** Merge the current epoch's digest segments into one
    * ([[graft.core.EpochStore.Segmented.compact]]) — row-identical (the
    * stored union is exactly distinct, so a plain merge preserves it) —
    * carrying the bloom sketch forward unchanged (same key set, capacity
    * and bit size, so later batch sketches stay merge-compatible).
    */
  def compact(spark: SparkSession, path: String): Long =
    store.compact(spark, path)

  /** Persist one bloom metadata row for `epoch`. `capacity` (and the
    * bit size derived from it) is what keeps later batch sketches
    * merge-compatible: Spark's `BloomFilter.mergeInPlace` requires
    * identical bit size and hash count, both functions of
    * (expectedItems, numBits) at creation.
    */
  private def writeBloomRow(
      spark: SparkSession, path: String, epoch: Long, filter: BloomFilter,
      nItems: Long, fpp: Double, capacity: Long): Unit = {
    val bytes = new java.io.ByteArrayOutputStream()
    filter.writeTo(bytes)
    import spark.implicits._
    Seq((bytes.toByteArray, nItems, filter.bitSize(), fpp, capacity))
      .toDF("sketch", "n_items", "num_bits", "fpp", "capacity")
      .repartition(1)
      .write.mode("overwrite")
      .parquet(EpochStore.epochDir(path, "bloom", epoch))
  }

  /** (Re)build epoch `epoch`'s sketch artifact from its FULL fingerprint
    * table (the digest dirs `fpPaths`) — one bounded count + one distributed sketch aggregation over
    * 16-byte keys; O(corpus read). Paid at founding, and again only when
    * appends overflow the founding capacity — the geometric headroom
    * (2× current size, or the caller's `expectedItems`) makes the
    * rebuild amortized O(batch) over a store's lifetime.
    *
    * Built with `df.stat.bloomFilter` (treeAggregate of
    * `util.sketch.BloomFilter` — the SAME serialization
    * `BloomFilterMightContain` deserializes), NOT the runtime-filter
    * `BloomFilterAggregate` expression: that expression silently clamps
    * n and numBits to `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems/maxNumBits` (4 M items / 67 M bits by default), which
    * at this store's documented 10⁸–10⁹-document scale would push the
    * real fpp toward 1 and make the sketch arm over-drop nearly every
    * novel document — with the metadata row still claiming the requested
    * capacity. The stat form has no caps; the persisted `num_bits` is
    * read back from the filter actually built.
    */
  private def rebuildBloom(
      spark: SparkSession, path: String, epoch: Long, fpPaths: Seq[String],
      fpp: Double, expectedItems: Long): Unit = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val fp = ParquetFiles.read(spark, fpPaths: _*)
    val n = math.max(1L, fp.count())
    val capacity = math.max(64L, math.max(2L * n, expectedItems))
    val filter = bloomKey(fp).stat.bloomFilter("k", capacity, fpp)
    writeBloomRow(spark, path, epoch, filter, n, fpp, capacity)
  }

  /** The append-time sketch update (`fpPaths`: epoch `next`'s digest
    * dirs, the just-written novel segment last): build an O(batch)
    * sketch over that segment with the persisted epoch's EXACT sizing
    * parameters and merge it in — zero corpus jobs. Falls back to
    * [[rebuildBloom]] when the capacity would overflow (fpp past its
    * design point) or the prior epoch predates capacity metadata.
    */
  private def appendBloom(
      spark: SparkSession, path: String, cur: Long, next: Long,
      fpPaths: Seq[String], fpp: Double): Unit = {
    val prevBloom =
      if (cur > 0) EpochStore.artifactPaths(spark, path, "bloom", cur).headOption
      else None
    val prev = prevBloom.flatMap { dir =>
      if (!FileIO.exists(spark, dir)) None
      else {
        val df = ParquetFiles.read(spark, dir)
        if (!df.columns.contains("capacity")) None
        else Some(df.select("sketch", "n_items", "num_bits", "fpp", "capacity").head())
      }
    }
    val novel = ParquetFiles.read(spark, fpPaths.last)
    val batchN = novel.count()
    prev match {
      case Some(r) if r.getLong(1) + batchN <= r.getLong(4) =>
        val filter = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
        val batchFilter =
          bloomKey(novel).stat.bloomFilter("k", r.getLong(4), r.getLong(2))
        filter.mergeInPlace(batchFilter)
        writeBloomRow(spark, path, next, filter,
          r.getLong(1) + batchN, r.getDouble(3), r.getLong(4))
      case _ =>
        rebuildBloom(spark, path, next, fpPaths, fpp, 0L)
    }
  }
}
