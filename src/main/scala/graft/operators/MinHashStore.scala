package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EpochStore

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
  * Epoch/manifest durability, `save`/`append`/`load`/`loadEpoch`/
  * `compact`/`vacuum`: [[graft.core.EpochStore.Encoded]].
  */
object MinHashStore extends EpochStore.Encoded("MinHashStore", "minhash") {

  /** Signatures frame for `corpus` (`doc_id`, `text`) — shingle, hash,
    * k-wide MinHash at [[Dedup.minhashIngestDedup]]'s shingle width and
    * signature length (fixed, so a save and an append can never disagree
    * on them); docs with no shingles carry no near-dup signal and are
    * excluded, matching [[Dedup.minhashPairs]].
    */
  protected def encode(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("sh", TextAnalysis.shingles(TextAnalysis.tokens(col("text")),
        Dedup.IngestShingleN))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        Dedup.minhashSignature(col("sh"), Dedup.IngestNumHashes).as("sig"))
}
