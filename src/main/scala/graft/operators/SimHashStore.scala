package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{EpochStore, ParquetFiles}

/** Persistence for the 48-bit SimHash signature corpus — the
  * Hamming-distance sibling of [[MinHashStore]], finishing the fuzzy
  * half of the store family: [[Dedup.simhashIngestDedup]] gates a new
  * crawl batch against everything already accepted, and recomputing the
  * accepted side's signatures per ingest re-tokenizes the whole corpus.
  * One frame persists:
  *
  *  - `<path>/simhash_sK` segment dirs — `(doc_id, simhash: long)`,
  *    16 bytes per accepted document (a 10⁹-doc corpus is a ~16 GB
  *    table), one segment per founding/append epoch; each epoch's
  *    live-segment list is the `simhash_eN.segs` sidecar
  *    ([[graft.core.EpochStore]] segmented epochs).
  *
  * The bare signature is the whole artifact on purpose (the
  * [[MinHashStore]] argument): the 12-bit chunk keys the ingest join
  * needs are pure shift/mask arithmetic over `simhash`, derived
  * map-side per ingest — persisting exploded chunk rows would freeze
  * the banding into the artifact and quadruple it for data the scan
  * re-derives for free.
  *
  * Epoch/manifest durability discipline: [[graft.core.EpochStore]].
  */
object SimHashStore {

  private val Names = Seq("simhash")

  /** Reduce `corpus` (`doc_id`, `text`) to its signature artifact at
    * `path`. Docs with no tokens carry no signal and are excluded,
    * matching [[Dedup.simhash]].
    */
  def save(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    val next = EpochStore.currentEpoch(spark, path) + 1
    val seg = EpochStore.segName("simhash", next)
    Dedup.simhash(corpus)
      .write.mode("overwrite").parquet(s"$path/$seg")
    EpochStore.writeSegments(spark, path, "simhash", next, Seq(seg))
    EpochStore.commitEpoch(spark, path, next)
  }

  /** The persisted signature table `(doc_id, simhash)` — the corpus
    * side for [[Dedup.simhashIngestDedup]].
    */
  def load(spark: SparkSession, path: String): DataFrame =
    loadEpoch(spark, path,
      EpochStore.requireEpoch(spark, path, "SimHashStore"))

  /** The signature table at a SPECIFIC epoch — superseded epochs stay
    * readable until [[vacuum]], which is what lets a replayed streaming
    * micro-batch re-gate against exactly the corpus it originally saw
    * ([[graft.streaming.StreamingFuzzyIngest]]).
    */
  def loadEpoch(spark: SparkSession, path: String, e: Long): DataFrame =
    ParquetFiles.read(spark,
      EpochStore.artifactPaths(spark, path, "simhash", e): _*)

  /** Fold an accepted batch (`doc_id`, `text`) into the store — ONLY
    * the batch's signatures are written, as a new segment of the next
    * epoch; the persisted corpus segments are referenced by the new
    * epoch's list, never read or rewritten (append I/O is O(batch),
    * not O(corpus)). Caller guarantees accepted doc_ids are new.
    */
  def append(accepted: DataFrame, path: String): Unit = {
    val spark = accepted.sparkSession
    val cur = EpochStore.requireEpoch(spark, path, "SimHashStore")
    val next = cur + 1
    val seg = EpochStore.segName("simhash", next)
    Dedup.simhash(accepted)
      .write.mode("overwrite").parquet(s"$path/$seg")
    EpochStore.writeSegments(spark, path, "simhash", next,
      EpochStore.segmentsForAppend(spark, path, "simhash", cur) :+ seg)
    EpochStore.commitEpoch(spark, path, next)
  }

  /** Drop superseded epochs — call once no in-flight reader can still
    * hold plans against them ([[graft.core.EpochStore.vacuum]]).
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
      Seq("simhash" -> identity[DataFrame] _))
}
