package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{EpochStore, FileIO, ParquetFiles}

/** Persistence for the ANN SERVING index — the vector sibling of
  * [[FingerprintStore]] (exact digests) and [[MinHashStore]] (fuzzy
  * signatures), closing the last recompute asymmetry in the store
  * family: [[Similarity.ivfPqSearch]] builds its (cell, PQ codes) index
  * inside every query plan, so a serving deployment re-encodes the
  * corpus on every query batch — at 100 TB the encode pass (nc × dim
  * centroid argmax + m × k × dim/m code argmin per vector) IS the cost.
  * This store runs it exactly once (FAISS's `IndexIVFPQ` add/search
  * split, Jégou et al. TPAMI'11 §IV): the index is built at founding,
  * grows by O(batch) appends, and queries touch only codebooks and
  * postings — the corpus vectors are DROPPED after encoding.
  *
  * Artifact layout (epoch-swap durable via [[graft.core.EpochStore]];
  * every epoch is self-contained so vacuum can drop old ones whole):
  *
  *  - `<path>/postings_sK` segment dirs — `(vec_id, cell: int,
  *    codes: array<long>, cdist: float)`, m bytes of quantized vector
  *    per row at the defaults (vs dim × 4 raw): a 10⁹-vector corpus at
  *    m = 8 is a ~10 GB table. One segment per founding/append epoch,
  *    the epoch's live list in the `postings_eN.segs` sidecar
  *    ([[graft.core.EpochStore]] segmented epochs) — append writes only
  *    the batch's encoded rows, never rewriting persisted postings.
  *    `cdist` (coarse-assignment distance) feeds the staleness
  *    telemetry and is column-pruned out of every search scan.
  *  - `<path>/ivf_eN` — `(idx: int, cent_id: long, cv: array<double>,
  *    cnrm: double)`: the coarse codebook, FROZEN at founding. `idx` is
  *    the posting `cell` id (array order of the literal-codebook plan).
  *  - `<path>/pqmeta_eN` — one row `(m, k, dim, cb: array<double>,
  *    residual: boolean)`: the flat PQ codebook + layout + encoding
  *    form, frozen at founding — search routes off the persisted flag,
  *    so a caller can never ADC-score residual codes with raw-vector
  *    LUTs.
  *  - `<path>/drift_eN` — the staleness history, one row per epoch of
  *    the current lineage ([[driftStats]]): the rebuild-when-stale
  *    signal the frozen-codebook trade requires.
  *
  * Codebooks are frozen on purpose: append-time re-training would
  * reassign every existing posting (a full-corpus rebuild disguised as
  * an append) and silently shift every stored code's meaning. The
  * trade is standard IVF drift — if the vector distribution moves far
  * from the founding sample, recall decays and the operator rebuilds
  * via a fresh [[save]] (the FAISS retrain discipline). Appends encode
  * with the loaded codebooks, so founding-then-append postings are
  * row-identical to a one-shot encode of the union under the same
  * codebooks (spec-asserted).
  *
  * [[save]]/[[append]] encode with [[Similarity.ivfPqEncode]] and
  * [[search]] runs [[Similarity.adcTopK]] — the IVFADC kernel of
  * [[Similarity.ivfPqSearch]] (residual or raw-vector form, routed by the
  * persisted founding `residual` flag). The two differ only in where the
  * index comes from (loaded postings here, an in-plan encode there) and
  * in self-exclusion: queries here are an EXTERNAL frame (`vec_id`,
  * `embedding`), not a filter over the corpus, so a query that is also a
  * corpus row scores its own posting like any other candidate (the
  * serving shape: the engine cannot know the caller's identity space).
  * Postings stay the scanned (distributed) side, queries broadcast with
  * their ADC lookup tables.
  */
object VectorIndexStore {

  private val store = new EpochStore.Segmented("VectorIndexStore",
    Seq("postings" -> identity[DataFrame] _),
    carried = Seq("ivf", "pqmeta", "drift"))

  /** Write the NEW postings segment plus the (driver-bounded: ≤maxCents
    * rows + 1 row) codebook frames for the epoch after `base`, then
    * commit — founding, or on `extend` appending to `base`'s postings.
    *
    * Staleness telemetry rides the write: the postings write's observed
    * `cdist` aggregates append a (epoch, kind, n_rows, mean_cdist,
    * p95_cdist) row to the `drift_eN` history frame, carried forward from
    * `base` on `extend` so each epoch's history is self-contained
    * (vacuum-safe). A fresh [[save]] resets the history — a re-found
    * store is a rebuild with a new baseline.
    */
  private def writeEpoch(
      spark: SparkSession, path: String, base: Long, extend: Boolean,
      postings: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      cb: Array[Double], m: Int, k: Int, dim: Int, residual: Boolean): Unit =
    store.write(spark, path, base, extend) { next =>
      import spark.implicits._
      // r22, two job-floor cuts on the epoch write (guide §2.6 / §1.2):
      // the drift stats RIDE the postings write as observed metrics (the
      // dedupGroups convergence-count discipline) instead of re-reading the
      // just-written segment in a second job, and the independent tiny
      // actions — codebook/meta writes, the prior-drift read — overlap in
      // one inParallel batch instead of paying one job floor each. Same
      // artifacts, same layout, same commit-last ordering.
      val obs = org.apache.spark.sql.Observation()
      var prior: Seq[(Long, String, Long, Double, Double)] = Seq.empty
      EpochStore.inParallel(
        () => postings
          .observe(obs, count(lit(1)).as("n"), avg(col("cdist")).as("mc"),
            expr("percentile_approx(cdist, 0.95)").as("p95"))
          .write.mode("overwrite").parquet(store.segment(path, "postings", next)),
        () => cents.zipWithIndex
          .map { case ((id, cv, cn), i) => (i, id, cv.toSeq, cn) }.toSeq
          .toDF("idx", "cent_id", "cv", "cnrm")
          .coalesce(1).write.mode("overwrite")
          .parquet(EpochStore.epochDir(path, "ivf", next)),
        () => Seq((m, k, dim, cb.toSeq, residual))
          .toDF("m", "k", "dim", "cb", "residual")
          .coalesce(1).write.mode("overwrite")
          .parquet(EpochStore.epochDir(path, "pqmeta", next)),
        () => prior = if (!extend) Seq.empty else {
          val drift = EpochStore.epochDir(path, "drift", base)
          if (!FileIO.exists(spark, drift)) Seq.empty // founded before drift telemetry
          else ParquetFiles.read(spark, drift).collect().map(r =>
            (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
              r.getDouble(4)))
        })
      val st = obs.get // the write above completed: available immediately
      val row = (next, if (extend) "append" else "founding",
        st("n").asInstanceOf[Long],
        st("mc") match { case null => 0.0; case d => d.asInstanceOf[Double] },
        st("p95") match {
          case null => 0.0
          case f: Float => f.toDouble
          case d: Double => d
          case other => other.asInstanceOf[Number].doubleValue()
        })
      (prior :+ row).toDF("epoch", "kind", "n_rows", "mean_cdist", "p95_cdist")
        .coalesce(1).write.mode("overwrite")
        .parquet(EpochStore.epochDir(path, "drift", next))
    }

  /** The persisted staleness history: one row per epoch of the CURRENT
    * lineage — (epoch, kind: founding|append, n_rows, mean_cdist,
    * p95_cdist), where cdist is each vector's coarse-assignment distance
    * `1 − cos(v, nearest centroid)` under the FROZEN founding codebook.
    * The rebuild signal the store's own docs prescribe: an append batch
    * whose mean/p95 sits well above the founding row's is drawing from a
    * distribution the codebook no longer covers — recall is decaying and
    * the operator should re-found ([[save]]) on current data. Rows are
    * tiny (one per epoch) and each epoch's frame is self-contained, so
    * the history survives [[vacuum]].
    */
  def driftStats(spark: SparkSession, path: String): DataFrame = {
    ParquetFiles.read(spark,
      EpochStore.epochDir(path, "drift", store.epoch(spark, path)))
  }

  /** Found the index at `path`: derive (or accept) both codebooks from
    * `emb` (`vec_id`, `embedding`), encode it, persist everything.
    * Fails loudly on an empty founding corpus — a serving index with no
    * centroids is a configuration error, not an empty result.
    *
    * SIZING (the deployment knob, measured in SCALECHECK_r13): nlist —
    * the centroid count, `min(maxCents, founding/centEvery)` — is a
    * FOUNDING-TIME configuration. Encode cost is rows × nlist × dim
    * (the coarse-assignment pass every IVF index pays) and per-query
    * search cost is nprobe × corpus/nlist, so size
    * `centEvery ≈ founding/nlist` for the nlist the target corpus
    * wants (FAISS guidance: ~√corpus up to memory limits) and both
    * stay linear per epoch. Defaults are pinned for the small-SF
    * oracle replay; at 10⁹ vectors they would leave 256 cells of 4M
    * vectors each — set the knobs. A corpus that outgrows its founding
    * nlist by a decade warrants a fresh [[save]] (the retrain
    * discipline in the object doc).
    */
  def save(
      emb: DataFrame, path: String,
      m: Int = 8, k: Int = 16,
      centEvery: Int = 40, maxCents: Int = 256,
      ivfCodebook: Option[Array[(Long, Array[Double])]] = None,
      pqCodebook: Option[Array[Double]] = None,
      residual: Boolean = false): Unit = {
    val spark = emb.sparkSession
    // The founding frame is referenced three times — the centroid sample
    // (a collect), the dim probe (a head) and the encode pass — and `emb`
    // is often a COMPUTED subtree (chunkEmbed: chunk explode + two
    // aggregations); without a lineage cut each reference re-runs that
    // whole subtree, tripling the founding cost (measured r21:
    // chunk_index_search build 2.5 s → 1.3 s). Materialize the normalized
    // form once (the knnGraph/minhashPairs persist discipline) — UNLESS
    // the input is a bare relation scan, where the cut costs about what
    // the re-reads would (r21 verdict #3; Materialize gates on the
    // analyzed plan and carries the reliable-spill escape hatch, r21
    // verdict #4).
    val e = graft.core.Materialize.frameUnlessBareScan(
      Similarity.normalized(emb), emb)
    val cents = Similarity.resolveCentroids(e, centEvery, maxCents, ivfCodebook)
    require(cents.nonEmpty,
      s"empty IVF codebook founding VectorIndexStore at $path " +
        "(empty corpus, or no vec_id matched the sampling rule)")
    val dim = normalizedDim(e)
    val cb = Similarity.resolvePqCodebook(dim, m, k, pqCodebook)
    writeEpoch(spark, path, EpochStore.currentEpoch(spark, path), extend = false,
      Similarity.ivfPqEncode(e, cents, cb, m, k, residual), cents, cb, m, k, dim, residual)
  }

  /** Embedding width off the materialized NORMALIZED frame (`v` column) —
    * [[Similarity.probeDim]]'s contract, reading the checkpointed blocks
    * instead of re-running the raw embedding subtree. Empty frame → 1
    * (the probeDim sentinel: downstream plans yield empty results).
    */
  private def normalizedDim(e: DataFrame): Int =
    e.select(size(col("v"))).head(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** The loaded index: frozen codebooks (driver-side, they are plan
    * literals) + the postings frame (distributed — never collected) +
    * the epoch the load resolved — the ONE epoch read an append keys
    * off, so a writer racing between load and commit trips
    * [[graft.core.EpochStore.commitEpoch]]'s stale-read guard instead
    * of silently absorbing this writer's view of the store.
    */
  final case class Index(
      cents: Array[(Long, Array[Double], Double)],
      cb: Array[Double], m: Int, k: Int, dim: Int,
      postings: DataFrame, epoch: Long, residual: Boolean)

  def load(spark: SparkSession, path: String): Index = {
    val e = store.epoch(spark, path)
    // at most maxCents rows with a unique idx: sorted on the driver, so
    // the load runs no range-partition sample and no shuffle
    val cents = ParquetFiles.read(spark, EpochStore.epochDir(path, "ivf", e))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    val metaDf = ParquetFiles.read(spark, EpochStore.epochDir(path, "pqmeta", e))
    val meta = metaDf.head()
    // pqmeta written before the residual knob has no column: non-residual
    Index(cents, meta.getSeq[Double](3).toArray,
      meta.getInt(0), meta.getInt(1), meta.getInt(2),
      store.loadFamily(spark, path, e, "postings"),
      e,
      if (metaDf.columns.contains("residual")) meta.getAs[Boolean]("residual")
      else false)
  }

  /** Fold a new batch (`vec_id`, `embedding`, new vec_ids, the founding
    * width) into the index: ONLY its posting rows, encoded under the
    * FROZEN codebooks, are written, as a new segment.
    */
  def append(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val ix = load(spark, path)
    // one materialization feeds the dim probe and the encode pass (the
    // save() discipline — a batch off a computed subtree is not re-run;
    // a bare-scan batch skips the cut, r21 verdict #3)
    val be = graft.core.Materialize.frameUnlessBareScan(
      Similarity.normalized(batch), batch)
    val bdim = normalizedDim(be)
    if (bdim != ix.dim) {
      // normalizedDim's empty-frame sentinel is 1: an ingest loop whose
      // gate rejected the whole batch appends an EMPTY frame, and that is
      // a no-op (nothing to fold, no epoch churn), not a width error
      require(be.isEmpty,
        s"appended batch embedding width $bdim != index width ${ix.dim}")
      return
    }
    // the write builds on the epoch load() RESOLVED (not a re-read of the
    // manifest): a racer committing in between makes commitEpoch's
    // stale-read check fire loudly instead of losing its rows
    writeEpoch(spark, path, ix.epoch, extend = true,
      Similarity.ivfPqEncode(be, ix.cents, ix.cb, ix.m, ix.k, ix.residual),
      ix.cents, ix.cb, ix.m, ix.k, ix.dim, ix.residual)
  }

  /** IVFADC search of `queries` (`vec_id`, `embedding` — an external
    * frame) against the persisted index: each query probes its `nprobe`
    * nearest stored cells and ADC-scores only the postings inside them.
    * Zero jobs against the original corpus — codebooks come off the
    * driver as plan literals, postings off parquet. Output is the
    * [[Similarity.ivfPqSearch]] contract: (query_id, neighbor_id, rank,
    * approx_dist2), kNN rows per query, ties on (adist, vec_id).
    */
  def search(
      queries: DataFrame, path: String,
      kNN: Int = 10, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val ix = load(queries.sparkSession, path)
    // A query batch is often a COMPUTED subtree (the serving shape:
    // chunkEmbed over the incoming docs); the width probe and the
    // broadcast build below would each run it once. Materialize the
    // normalized batch (bounded — it is the broadcast side) so the
    // subtree runs exactly once — but a bare-scan batch skips the cut:
    // the materialization job costs about what two re-scans do (the one
    // mechanism-backed r21 regression, ivfpq_ingest_search 0.85×).
    val qn = graft.core.Materialize.frameUnlessBareScan(
      Similarity.normalized(queries), queries)
    val qdim = normalizedDim(qn)
    require(qdim == ix.dim || qn.isEmpty,
      s"query embedding width $qdim != index width ${ix.dim}")
    Similarity.adcTopK(ix.postings, qn, ix.cents, ix.cb, ix.m, ix.k, ix.residual,
      nprobe, kNN, excludeSelf = false)
  }

  /** Approximate corpus DECODE from the persisted postings — the PQ
    * reconstruction v̂ = (residual ? centroid(cell) : 0) ⧺ per-subspace
    * codebook rows cb[codes[mi]] (Jégou et al. §IV: the quantizer's
    * reproduction value). One map-side pass over postings, no corpus
    * access — the store dropped the raw vectors at encode time, but the
    * quantized form carries enough geometry to retrain a coarse codebook
    * over the CURRENT distribution, which is what [[refoundIfStale]]
    * needs. Output is `(vec_id, embedding: array<double>)`, the same
    * frame shape [[save]] accepts.
    */
  def reconstruct(spark: SparkSession, path: String): DataFrame =
    reconstructFrom(load(spark, path))

  private def reconstructFrom(ix: Index): DataFrame = {
    // the shared decode read (Similarity.pqDecodeExpr — also the
    // pq_reconstruct operator's core, so the two can never skew)
    val pieces =
      Similarity.pqDecodeExpr(col("codes"), ix.cb, ix.k, ix.dim / ix.m)
    val recon =
      if (ix.residual) {
        val cvs = typedLit(ix.cents.map(_._2.toSeq).toSeq)
        zip_with(pieces, element_at(cvs, col("cell") + 1), (a, b) => a + b)
      } else pieces
    ix.postings.select(col("vec_id"), recon.as("embedding"))
  }

  /** The rebuild predicate over [[driftStats]]: true when the LATEST
    * epoch's p95 coarse-assignment distance sits at `ratio` × the
    * founding epoch's (and above `floor`, so near-zero founding
    * baselines don't make noise trip the gate). This is the codified
    * form of the rebuild rule the drift telemetry was written for — an
    * append batch drawing from a distribution the frozen codebook no
    * longer covers.
    */
  def stale(
      spark: SparkSession, path: String,
      ratio: Double = 2.0, floor: Double = 0.05): Boolean = {
    val hist = driftStats(spark, path)
      .orderBy(col("epoch")).collect()
    val founding = hist.head.getAs[Double]("p95_cdist")
    val latest = hist.last.getAs[Double]("p95_cdist")
    latest > floor && latest > ratio * founding
  }

  /** The ACT half of the drift loop (the family pattern:
    * `embed_density` → `density_prune`, `dup_lines` →
    * `strip_dup_lines`): when [[stale]] fires, re-found the index from
    * its own [[reconstruct]]ed postings — RETRAIN the coarse codebook
    * ([[Similarity.trainIvfCodebook]]'s deterministic driver-side
    * Lloyd over a bounded sample, at the founding nlist) so the cells
    * cover the current distribution, keep the founding PQ codebook (the
    * drift signal is cell coverage, not subspace quantization), and
    * epoch-swap the rebuilt index in. The superseded epoch stays
    * readable until [[vacuum]]; the drift history restarts at the new
    * founding row (a re-found store is a rebuild with a new baseline).
    * Returns whether a rebuild happened, so an ingest loop can run this
    * after every append as a cheap no-op gate.
    *
    * The training sample is ordered by a HASH of vec_id, not vec_id:
    * the rows that caused the drift are the newest (highest-id) ones,
    * and [[Similarity.trainIvfCodebook]]'s own lowest-`sampleN`-ids
    * sample would train on exactly the stale founding region at scale.
    * The hash order is a deterministic pseudo-random sample spanning
    * every segment, still one TakeOrderedAndProject (bounded, no
    * corpus sort).
    *
    * Scale shape: two passes over postings (the decode feeding the
    * trainer's bounded `sampleN` fetch, and the decode feeding the
    * re-encode — rows × nlist × dim, the same cost founding paid) —
    * paid only when the gate fires, and strictly cheaper than recall
    * silently decaying until a human notices. `nlist` defaults to the
    * founding cell count; a corpus that has outgrown it passes the new
    * size here (drift and growth usually arrive together).
    */
  def refoundIfStale(
      spark: SparkSession, path: String,
      ratio: Double = 2.0, floor: Double = 0.05,
      nlist: Int = 0, sampleN: Int = 10000, iters: Int = 10): Boolean = {
    if (!stale(spark, path, ratio, floor)) return false
    val ix = load(spark, path)
    val trained = Similarity.trainIvfCodebook(
      reconstructFrom(ix)
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN),
      k = if (nlist > 0) nlist else ix.cents.length,
      sampleN = sampleN, iters = iters)
    save(reconstructFrom(ix), path, m = ix.m, k = ix.k,
      ivfCodebook = Some(trained), pqCodebook = Some(ix.cb),
      residual = ix.residual)
    true
  }

  /** Merge the current epoch's posting segments into ONE
    * ([[graft.core.EpochStore.Segmented.compact]]): postings merge
    * row-identically and the codebook/drift frames are carried forward,
    * so search answers are bit-identical pre/post (spec-asserted).
    */
  def compact(spark: SparkSession, path: String): Long =
    store.compact(spark, path)

  /** Drop superseded epochs ([[graft.core.EpochStore.Segmented.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Unit =
    store.vacuum(spark, path)
}
