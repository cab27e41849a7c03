package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{EpochStore, ParquetFiles}

/** Persistence for the FUZZY-dedup signature corpus — the MinHash sibling
  * of [[FingerprintStore]] (exact digests) and `Dedup.ngramIndex`
  * (containment index).
  *
  * [[Dedup.minhashIngestDedup]] gates a new crawl batch against
  * everything already accepted by ESTIMATED Jaccard, but computing the
  * accepted side's signatures per ingest re-tokenizes the whole corpus —
  * at 100 TB the shingle+md5 pass IS the cost, exactly the asymmetry the
  * other two stores close. This store persists ONE frame:
  *
  *  - `<path>/minhash_sK` segment dirs — `(doc_id, sig: array<long>)`,
  *    the corpus's MinHash signatures (k 31-bit values ≈ 8k bytes/doc —
  *    at 10⁹ accepted docs and k = 16 a ~130 GB table, a normal parquet
  *    dataset), one segment per founding/append epoch; each epoch's
  *    live-segment list is the `minhash_eN.segs` sidecar
  *    ([[graft.core.EpochStore]] segmented epochs).
  *
  * The signature is the WHOLE artifact on purpose: the LSH band keys the
  * ingest join needs are pure arithmetic over `sig` (derived map-side in
  * [[Dedup.bandKeys]]), and the same array feeds the estimated-Jaccard
  * verification — persisting pre-exploded band rows would freeze the
  * banding parameters into the artifact and store `bands`× the rows for
  * data the scan can re-derive for free. Per-ingest cost: one map-side
  * pass over the signature table (explode to band keys, broadcast-join
  * the batch's keys), nothing corpus-volume ever shuffles.
  *
  * Epoch/manifest durability discipline: [[graft.core.EpochStore]].
  */
object MinHashStore {

  private val Names = Seq("minhash")

  /** Signatures frame for `corpus` (`doc_id`, `text`) — shingle, hash,
    * k-wide MinHash; docs with no shingles (fewer than `n` tokens) carry
    * no near-dup signal and are excluded, matching [[Dedup.minhashPairs]].
    */
  private def signatures(corpus: DataFrame, n: Int, numHashes: Int): DataFrame =
    corpus
      .withColumn("sh", TextAnalysis.shingles(TextAnalysis.tokens(col("text")), n))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        Dedup.minhashSignature(col("sh"), numHashes).as("sig"))

  /** Reduce `corpus` (`doc_id`, `text`) to its signature artifact at
    * `path`. `n`/`numHashes` must match between save and every append —
    * they parameterize the signature itself.
    */
  def save(corpus: DataFrame, path: String,
      n: Int = 3, numHashes: Int = 16): Unit = {
    val spark = corpus.sparkSession
    val next = EpochStore.currentEpoch(spark, path) + 1
    val seg = EpochStore.segName("minhash", next)
    signatures(corpus, n, numHashes)
      .write.mode("overwrite").parquet(s"$path/$seg")
    EpochStore.writeSegments(spark, path, "minhash", next, Seq(seg))
    EpochStore.commitEpoch(spark, path, next)
  }

  /** The persisted signature table `(doc_id, sig)` — the corpus side for
    * [[Dedup.minhashIngestDedup]]: the union of the committed epoch's
    * live segments.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    loadEpoch(spark, path,
      EpochStore.requireEpoch(spark, path, "MinHashStore"))

  /** The signature table at a SPECIFIC epoch — superseded epochs stay
    * readable until [[vacuum]] (streaming replay reads the epoch a
    * micro-batch originally gated against).
    */
  def loadEpoch(spark: SparkSession, path: String, e: Long): DataFrame =
    ParquetFiles.read(spark,
      EpochStore.artifactPaths(spark, path, "minhash", e): _*)

  /** Fold an accepted batch (`doc_id`, `text`) into the store: ONLY the
    * batch's signatures are written, as a new segment of the next
    * epoch — the persisted corpus segments are referenced by the new
    * epoch's list, never read or rewritten, so append I/O is O(batch)
    * regardless of corpus age (at 10⁹ accepted docs the alternative —
    * union + rewrite — would move the full ~130 GB signature table per
    * ingest batch). Caller guarantees accepted doc_ids are new;
    * signature parameters must match the founding save.
    */
  def append(accepted: DataFrame, path: String,
      n: Int = 3, numHashes: Int = 16): Unit = {
    val spark = accepted.sparkSession
    val cur = EpochStore.requireEpoch(spark, path, "MinHashStore")
    val next = cur + 1
    val seg = EpochStore.segName("minhash", next)
    signatures(accepted, n, numHashes)
      .write.mode("overwrite").parquet(s"$path/$seg")
    EpochStore.writeSegments(spark, path, "minhash", next,
      EpochStore.segmentsForAppend(spark, path, "minhash", cur) :+ seg)
    EpochStore.commitEpoch(spark, path, next)
  }

  /** Drop superseded epochs — call once no in-flight reader can still
    * hold plans against them (commits themselves never delete; the Delta
    * VACUUM contract, [[graft.core.EpochStore.vacuum]]).
    */
  def vacuum(spark: SparkSession, path: String): Unit =
    EpochStore.vacuum(spark, path, Names)

  /** Merge the current epoch's signature segments into one and
    * epoch-swap it in — row-identical (plain union of signature rows),
    * bounding segment-list length over deployment age
    * ([[graft.core.EpochStore.compact]]). Fragments go at [[vacuum]].
    */
  def compact(spark: SparkSession, path: String): Long =
    EpochStore.compact(spark, path,
      Seq("minhash" -> identity[DataFrame] _))
}
