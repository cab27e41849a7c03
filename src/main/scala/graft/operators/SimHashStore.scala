package graft.operators

import org.apache.spark.sql.DataFrame

import graft.core.EpochStore

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
  * Epoch/manifest durability, `save`/`append`/`load`/`loadEpoch`/
  * `compact`/`vacuum`: [[graft.core.EpochStore.Encoded]].
  */
object SimHashStore extends EpochStore.Encoded("SimHashStore", "simhash") {

  /** Signatures frame for `corpus` (`doc_id`, `text`); docs with no
    * tokens carry no signal and are excluded, matching [[Dedup.simhash]].
    */
  protected def encode(corpus: DataFrame): DataFrame = Dedup.simhash(corpus)
}
