package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.storage.StorageLevel

import TextAnalysis.{bindOnce, hexHash, shingles, tokens}

/** Near-duplicate detection for the LLM-data-pipeline tier (SURVEY.md §2):
  * MinHash+LSH, SimHash, and exact n-gram Jaccard over a
  * `documents(doc_id, text, ...)` table.
  *
  * 100 TB design: no operator here ever forms the raw n² cross product.
  * - MinHash signatures are computed map-side in one pass; LSH banding
  *   explodes each doc to `bands` rows and candidate pairs come from an
  *   equi-join on the band key — shuffle volume is rows × bands.
  * - SimHash is one 48-bit signature per doc; candidates come from an
  *   equi-join on 12-bit signature chunks (pigeonhole: hamming ≤ 3 ⇒ some
  *   chunk equal).
  * - n-gram Jaccard uses the inverted-index join (pairs sharing a rare
  *   shingle) with a document-frequency cap that drops stop-shingles —
  *   the standard guard against the quadratic frequent-token blowup.
  * Everything is deterministic column algebra on the shared md5-derived
  * hash (TextAnalysis.hexHash) — no UDFs, no randomness, engine-portable.
  */
object Dedup {

  /** Modulus (2³¹ − 1, Mersenne prime) and base-hash width (2³⁰) of the
    * MinHash family: products a_i·h stay under 2⁶¹, so every intermediate
    * is an exact non-negative signed long in Spark AND DuckDB.
    */
  private val MhPrime = 2147483647L
  private val MhBase = 1073741824L

  /** Per-index coefficient of the universal family, md5-derived like
    * Similarity.planeWeight — deterministic, engine-replayable, computed
    * driver-side and folded into the plan as literals.
    */
  private[operators] def mhParam(kind: String, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"mh|$kind|$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** MinHash signature: sig_i = min over shingles of h_i(shingle), with the
    * textbook universal family h_i(x) = (a_i·h(x) + b_i) mod p over ONE
    * 30-bit base hash h(x) — independent (a_i, b_i) per index, the same
    * construction MLlib's MinHashLSH uses. One md5 per shingle instead of
    * k: the digest (with its per-call string concat) was the dominant cost
    * of the whole operator, and the k per-index hashes become k fused
    * multiply-mods.
    *
    * Two rejected alternatives, both measured: the STRUCTURED affine
    * family h_i = a + i·b (correlated across i — one shingle with a small
    * base hash dominates every signature position, wrecking the estimator
    * and the banding recall guarantee; independence of (a_i, b_i) is what
    * the universal-family analysis needs), and k independent seeded md5
    * digests (sound but 16× the digest cost for no recall gain). The
    * 30-bit base leaves collision bias ≈ |vocab|/2³⁰ — immaterial next to
    * the banding's own false-negative rate.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    // r21: ONE codegen'd pass ([[graft.functions.MinHashSig]] — each
    // shingle digested once, k primitive running minima updated in
    // place) replacing the k + 1 interpreted HOF walks of the column-
    // algebra form (base-hash transform + k array_min(transform)s),
    // which dominated every minhash-family operator's map stage.
    // Bit-identical arithmetic on non-null input — FunctionsSpec pins
    // element-wise equality against the algebra, compiled and
    // interpreted. A NULL shingle array PROPAGATES to a NULL signature
    // (the algebra produced k nulls there — unreachable: every caller
    // filters size(sh) > 0 first; pinned in FunctionsSpec).
    graft.functions.MinHashSig(sh, MhBase, MhPrime,
      (0 until k).map(i => mhParam("a", i) % (MhPrime - 1) + 1),
      (0 until k).map(i => mhParam("b", i) % MhPrime))

  private def withShingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("sh", shingles(tokens(col("text")), n))
      .where(size(col("sh")) > 0)

  /** LSH band key for band `b` over a signature array: the string
    * "b:sig[rb]:…:sig[rb+rows−1]" — pure arithmetic over the signature,
    * shared by [[minhashPairs]] (self-join) and [[minhashIngestDedup]]
    * (ingest join against a persisted [[MinHashStore]] artifact).
    */
  private def bandKey(b: Column, sig: Column, rows: Int): Column =
    concat_ws(":", (b +: (0 until rows).map(r =>
      element_at(sig, b * rows + (r + 1)))): _*)

  /** MinHash+LSH near-dup pairs: shingle → 16-wide signature → 8 bands of 2
    * rows → band-key equi-join for candidates → exact Jaccard verification
    * within candidates only. Emits pairs with exact Jaccard ≥ `minJaccard`
    * plus the signature-estimated Jaccard.
    *
    * Banding recall: P(candidate | J) = 1 − (1 − J²)⁸ (≈ 1 − 2·10⁻⁶ at
    * J = 0.9); pairs missed by every band are unseen, by MinHash design.
    *
    * SCALING RULE (why these defaults need no corpus-count hint, unlike
    * Similarity.planesFor): a band bucket here is keyed by `rows` 31-bit
    * signature values, so two DISSIMILAR docs collide in a band with
    * p ≈ (2/p_prime)^rows ≈ 10⁻¹⁸ at rows = 2 — expected false candidates
    * ≈ n²·bands·10⁻¹⁸, still < 10⁶ at n = 10⁹. Bucket width is driven by
    * genuinely-similar content, not corpus size; the quadratic term a
    * fixed sign-LSH plane count suffers does not exist in this keying.
    * What DOES grow with near-dup-heavy corpora is the verify join on real
    * candidate pairs — raise `rows` (and `numHashes` with it) to push the
    * banding threshold (1/bands)^(1/rows) up before reaching for bigger
    * clusters.
    */
  /** Per-band LSH candidate-pair PRICING for [[minhashPairs]] — the
    * dedup-side sibling of [[Similarity.bucketHistogram]]: before paying
    * the verify join (the one minhashPairs stage that grows with
    * near-dup-heavy content, per the scaling rule on minhashPairs), one
    * bounded pass reports what it would cost. Per band: bucket count,
    * banded docs, max bucket width, and the EXACT pre-distinct candidate
    * join volume Σ w·(w−1)/2 — integer `div` arithmetic (w·(w−1) is
    * even), engine-portable, no IEEE division anywhere. A band whose
    * `cand_pairs` dwarfs its siblings means one degenerate shingle
    * cluster (boilerplate, empty-ish docs) owns the verify stage —
    * raise `rows`/`numHashes`, or pre-strip the cluster, BEFORE the
    * corpus-wide run. Cost: the same signature pass minhashPairs pays,
    * one map-side-combined width count (≤ bands × distinct keys rows),
    * a ≤ bands-row summary — never a pair is materialized.
    */
  def lshPairVolume(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    withShingles(docs, n)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"), col("sig"))
      .withColumn("bkey", bandKey(col("b"), col("sig"), rows))
      .groupBy(col("b"), col("bkey"))
      .agg(count(lit(1)).as("w"))
      .groupBy(col("b"))
      .agg(
        count(lit(1)).cast("long").as("buckets"),
        sum(col("w")).cast("long").as("docs"),
        max(col("w")).cast("long").as("max_width"),
        sum(expr("w * (w - 1) div 2")).cast("long").as("cand_pairs"))
  }

  def minhashPairs(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands // 2
    // Signatures are computed once and persisted: the plan references this
    // frame four times (two band-join sides, two verification sides), and
    // recomputing k md5-hashes per shingle per reference is the dominant
    // cost. Same pattern as MLlib's MinHashLSH (cache model output, then
    // candidate-join). MEMORY_AND_DISK: spills instead of OOM at scale.
    val sigs = withShingles(docs, n)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("doc_id"), col("sh"), col("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // (doc, band) → band key string "b:sig[2b]:sig[2b+1]"
    val banded = sigs
      .select(col("doc_id"), explode(sequence(lit(0), lit(bands - 1))).as("b"), col("sig"))
      .withColumn("bkey", bandKey(col("b"), col("sig"), rows))
      .select(col("doc_id"), col("bkey"))

    val cand = banded.as("x").join(banded.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val a = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"), col("sig").as("siga"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb"), col("sig").as("sigb"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    val union = size(col("sha")) + size(col("shb")) - inter
    val out = cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("jaccard", inter / union)
      .where(col("jaccard") >= minJaccard)
      .withColumn("est_jaccard",
        size(filter(sequence(lit(1), lit(numHashes)),
          i => element_at(col("siga"), i) === element_at(col("sigb"), i))) / lit(numHashes))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_jaccard"))
      // The pair set (small by construction — near-dups are rare) is
      // materialized eagerly so the signature cache can be released before
      // returning: without this, every call leaks an InMemoryRelation into
      // a long-lived session. localCheckpoint also truncates the 4-way
      // self-referencing lineage, so downstream ops (dedupGroups) replan
      // against a flat scan.
      .localCheckpoint()
    sigs.unpersist()
    out
  }

  /** 48-bit SimHash signature per document (frequency-weighted token
    * hashes; bit b set iff Σ_tokens ±1 for hash-bit b is positive).
    * 48 bits keeps every intermediate in a non-negative signed long in
    * both Spark and the DuckDB oracle. Token md5s are one interpreted
    * `transform` pass; the 48-bit vote is the codegen'd
    * [[graft.functions.SimHash48]] expression (single pass over the
    * hashes with primitive counters — the HOF form walks the token
    * array 48 times).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .where(size(col("toks")) > 0)
      .withColumn("simhash",
        graft.functions.SimHash48(graft.functions.HexHash60All(col("toks"))))
      .select(col("doc_id"), col("simhash"))

  /** SimHash near-dup pairs: candidates share at least one of four 12-bit
    * signature chunks (equi-join — no cross product), verified by Hamming
    * distance ≤ `maxHamming`. For maxHamming ≤ 3 the pigeonhole principle
    * makes this EXACT: ≤ 3 differing bits cannot touch all 4 chunks, so
    * every qualifying pair shares a chunk and is found (the Manku et al.
    * WWW'07 chunk-table construction). The signature rides along the chunk
    * join — no second join, and the hamming filter runs before the
    * pair-dedup so the distinct only sees survivors.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for hamming <= 3")
    // Signatures persist across the self-join's two sides — 16 bytes/doc;
    // without this the tokenize + 48-bit vote runs twice per document.
    val sims = simhash(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val chunks = sims
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("cv", expr("shiftright(simhash, 12 * c) & 4095"))
    val out = chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      // eager pair materialization, then cache release (minhashPairs note)
      .localCheckpoint()
    sims.unpersist()
    out
  }

  /** Exact word-n-gram Jaccard pairs via the inverted-index join: explode
    * shingles, drop shingles appearing in more than `maxDf` docs
    * (stop-shingles — they only generate quadratic candidates), self-join
    * on the shingle, count shared shingles per pair. Exact within the
    * kept-shingle vocabulary: every pair with a shared kept shingle is
    * scored.
    *
    * The index keys are 60-bit shingle *hashes*, not the shingle strings:
    * the exploded frame is the operator's shuffle payload, and 8-byte
    * keys cut it ~5× versus n-word strings. Hash collisions are
    * deterministic and engine-identical (the oracle replays the same
    * md5-derived hash), so results still match bit for bit.
    */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.3,
      maxDf: Int = 100): DataFrame =
    ngramScoredPairs(docs, n, maxDf) { counted =>
      counted
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .withColumn("jaccard", col("inter") / col("uni"))
        .where(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jaccard"))
    }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric twin of
    * [[ngramJaccard]]: containment = |A∩B| / min(|A|, |B|), the score that
    * catches a document embedded inside a larger one (quote farms,
    * boilerplate wrappers, page-of-pages scrapes). Jaccard misses exactly
    * this case: a 100-shingle doc fully contained in a 10000-shingle doc
    * has J ≈ 0.01 but containment 1.0 (Broder's resemblance-vs-containment
    * distinction). Same inverted-index plan, same DF cap, same shuffle
    * shape — only the final score differs.
    */
  def ngramContainment(
      docs: DataFrame,
      n: Int = 3,
      minContainment: Double = 0.6,
      maxDf: Int = 100): DataFrame =
    ngramScoredPairs(docs, n, maxDf) { counted =>
      counted
        .withColumn("containment", col("inter") / least(col("na"), col("nb")))
        .where(col("containment") >= minContainment)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("na"), col("nb"), col("containment"))
    }

  /** Both n-gram scores — Jaccard AND containment — from ONE inverted-index
    * pass: a pipeline that wants both (symmetric near-dups + embedded-doc
    * detection is the standard pairing) pays one explode / DF-cap /
    * self-join instead of two. Standalone, [[ngramJaccard]] +
    * [[ngramContainment]] each rebuild the index (~3 s apiece at sf0.1 —
    * at corpus scale the duplicated work is the whole operator); here the
    * counted pair frame is scored twice for free. A pair survives if it
    * clears EITHER threshold; which one(s) it cleared is readable off the
    * score columns.
    */
  def ngramScores(
      docs: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.3,
      minContainment: Double = 0.6,
      maxDf: Int = 100): DataFrame =
    ngramScoredPairs(docs, n, maxDf) { counted =>
      counted
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .withColumn("jaccard", col("inter") / col("uni"))
        .withColumn("containment", col("inter") / least(col("na"), col("nb")))
        .where(col("jaccard") >= minJaccard || col("containment") >= minContainment)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("na"), col("nb"), col("jaccard"), col("containment"))
    }

  /** Shared inverted-index pair machinery for [[ngramJaccard]] /
    * [[ngramContainment]] / [[ngramScores]]: explode to (doc_id, 60-bit
    * shingle hash), drop
    * shingles appearing in more than `maxDf` docs, self-join on the
    * shingle, count shared shingles and attach both doc sizes. `score`
    * turns the counted frame (doc_a, doc_b, inter, na, nb) into the final
    * filtered result BEFORE the eager materialization, so only surviving
    * pairs (small by construction) are checkpointed.
    */
  /** The n-gram inverted-index frame itself: (doc_id, 60-bit shingle
    * hash) — the REUSABLE artifact behind the whole n-gram family. At
    * corpus scale the tokenize + shingle + md5 explode IS the dominant
    * cost of every n-gram query; a deployment builds this frame once,
    * persists it as parquet (it is narrow 16-byte rows — just
    * `index.write.parquet(...)`), and feeds the saved index to
    * [[ngramIndexDedup]] for every subsequent ingest batch instead of
    * re-deriving the corpus side each time.
    */
  def ngramIndex(docs: DataFrame, n: Int = 3): DataFrame =
    withShingles(docs, n)
      .select(col("doc_id"), explode(graft.functions.HexHash60All(col("sh"))).as("sg"))

  /** Ingest-shape NEAR-dup gate — [[incrementalDedup]]'s fuzzy sibling:
    * score a NEW batch against the EXISTING corpus's n-gram inverted
    * index ([[ngramIndex]], typically loaded from its parquet artifact)
    * and report every batch document whose shingles are ≥
    * `minContainment` contained in some corpus document — near-copies of
    * already-accepted content (re-crawls with changed boilerplate, quote
    * wrappers) that exact-hash ingest dedup admits.
    *
    * Plan: the batch side explodes and BROADCASTS (a crawl batch is
    * ingest-sized — the contamination discipline, sides swapped); the
    * corpus index streams map-side through the join, so nothing
    * corpus-volume shuffles for the pair scoring. The corpus index is
    * DF-capped first (stop-shingles generate quadratic candidates; the
    * cap is one map-side-combined count over the index — precompute it
    * into the saved artifact to skip even that at ingest time). The only
    * shuffles are the cap count and the final pair-count aggregation,
    * bounded by shared-shingle volume. Containment is measured against
    * the BATCH doc's shingle count (the "is this new doc already covered"
    * direction).
    */
  def ngramIndexDedup(
      batch: DataFrame,
      index: DataFrame,
      n: Int = 3,
      minContainment: Double = 0.6,
      maxDf: Int = 100): DataFrame = {
    val bex = ngramIndex(batch, n)
    val bsizes = bex.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val rare = index.groupBy("sg").count().where(col("count") <= maxDf).select("sg")
    val kept = index.join(rare, Seq("sg"), "left_semi")
    kept.join(broadcast(bex.select(col("doc_id").as("batch_id"), col("sg"))), "sg")
      .groupBy(col("batch_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(bsizes.select(col("doc_id").as("batch_id"), col("nb"))), "batch_id")
      .withColumn("containment", col("inter") / col("nb"))
      .where(col("containment") >= minContainment)
      .select(col("batch_id"), col("corpus_id"), col("inter"), col("nb"),
        col("containment"))
  }

  /** [[minhashIngestDedup]]'s default shingle width and signature
    * length, which [[MinHashStore]] persists. */
  val IngestShingleN = 3
  val IngestNumHashes = 16

  /** Ingest-shape MinHash near-dup gate — [[minhashPairs]]'s sibling for
    * the production loop: score a NEW batch against the EXISTING corpus's
    * persisted signature artifact ([[MinHashStore.load]]) and report
    * every (batch, corpus) pair whose signature-estimated Jaccard is ≥
    * `minEstJaccard`. The accepted corpus's TEXT is never touched — only
    * its `(doc_id, sig)` signatures, exactly the asymmetry
    * [[incrementalDedupFp]]/[[ngramIndexDedup]] close for their families.
    *
    * Plan (nothing corpus-volume ever shuffles): the batch's signatures
    * are computed once (batch is ingest-sized) and BROADCAST; the corpus
    * signature table streams through ONE map-side pass — explode to band
    * keys (pure arithmetic over `sig`, the key derivation frozen nowhere
    * in the artifact), broadcast-hash-join the batch's band keys, so only
    * banding candidates survive the scan. The sole shuffle is the
    * pair-dedup groupBy at candidate volume. Verification is estimated
    * Jaccard from the signatures themselves (the corpus text needed for
    * exact Jaccard is gone by design — at k = 16 the estimator's σ is
    * ≈ 0.125, and the banding threshold already bounds what reaches it).
    */
  def minhashIngestDedup(
      batch: DataFrame,
      corpusSigs: DataFrame,
      n: Int = IngestShingleN,
      numHashes: Int = IngestNumHashes,
      bands: Int = 8,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // batch side: signatures once (eager — referenced by band join and
    // verify), then broadcast into both
    val bsigs = withShingles(batch, n)
      .select(col("doc_id").as("batch_id"),
        minhashSignature(col("sh"), numHashes).as("bsig"))
      .localCheckpoint()
    val bband = bsigs
      .select(col("batch_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"), col("bsig"))
      .select(col("batch_id"), bandKey(col("b"), col("bsig"), rows).as("bkey"))
    // corpus side: one streamed pass over the artifact, sig carried so no
    // second corpus scan is needed for verification
    val hits = corpusSigs
      .select(col("doc_id").as("corpus_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("b"), col("sig").as("csig"))
      .select(col("corpus_id"),
        bandKey(col("b"), col("csig"), rows).as("bkey"), col("csig"))
      .join(broadcast(bband), "bkey")
    hits
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(first(col("csig")).as("csig"))
      .join(broadcast(bsigs), "batch_id")
      .withColumn("est_jaccard",
        size(filter(sequence(lit(1), lit(numHashes)),
          i => element_at(col("csig"), i) === element_at(col("bsig"), i)))
          / lit(numHashes))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("batch_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** Ingest-shape SimHash near-dup gate — [[simhashPairs]]'s sibling for
    * the production loop, completing the fuzzy-ingest symmetry
    * ([[minhashIngestDedup]] estimates Jaccard; this bounds Hamming):
    * score a NEW batch against the EXISTING corpus's persisted 48-bit
    * signatures ([[SimHashStore.load]]) and report every (batch, corpus)
    * pair within `maxHamming` bits. Unlike the MinHash gate this one is
    * EXACT over the carried signatures: for maxHamming ≤ 3 the 4-chunk
    * pigeonhole (Manku et al. WWW'07) guarantees every qualifying pair
    * shares a 12-bit chunk, so the chunk equi-join loses nothing.
    *
    * Plan (the minhashIngestDedup discipline): batch signatures compute
    * once and BROADCAST as chunk keys; the corpus signature table
    * streams through ONE map-side pass (chunk keys are pure arithmetic
    * over `simhash` — nothing banding-specific is frozen into the
    * artifact), the Hamming verify rides the join (both signatures are
    * on the joined row), and the sole shuffle is the pair-dedup
    * distinct at candidate volume.
    */
  def simhashIngestDedup(
      batch: DataFrame,
      corpusSims: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for hamming <= 3")
    val bsims = simhash(batch)
      .select(col("doc_id").as("batch_id"), col("simhash").as("bsim"))
      .localCheckpoint()
    val bchunks = bsims
      .select(col("batch_id"), col("bsim"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("cv", expr("shiftright(bsim, 12 * c) & 4095"))
    corpusSims
      .select(col("doc_id").as("corpus_id"),
        explode(sequence(lit(0), lit(3))).as("c"), col("simhash").as("csim"))
      .withColumn("cv", expr("shiftright(csim, 12 * c) & 4095"))
      .join(broadcast(bchunks), Seq("c", "cv"))
      .withColumn("hamming",
        bit_count(col("csim").bitwiseXOR(col("bsim"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
      .distinct()
  }

  private def ngramScoredPairs(
      docs: DataFrame, n: Int, maxDf: Int)(
      score: DataFrame => DataFrame): DataFrame = {
    // The exploded index is referenced four ways (document-frequency cap,
    // per-doc sizes, both inverted-join sides); persisting the narrow
    // (doc_id, 8-byte hash) pairs means tokenize + shingle + md5 runs once
    // per document instead of four times. Same spill-safe pattern as the
    // MinHash signature frame.
    val ex = ngramIndex(docs, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rare = ex.groupBy("sg").count().where(col("count") <= maxDf).select("sg")
    val kept = ex.join(rare, Seq("sg"), "left_semi")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.sg") === col("y.sg") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val counted = pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
    // eager pair materialization, then cache release (minhashPairs note)
    val out = score(counted).localCheckpoint()
    ex.unpersist()
    out
  }

  /** Benchmark-contamination check: which training documents share a word
    * n-gram with any document in the benchmark/eval set — the decontam
    * pass every serious training-data pipeline runs (GPT-3 appx. C /
    * PaLM-style n-gram overlap) so eval questions don't leak into
    * training. `benchFilter` marks the benchmark rows inside `docs`;
    * everything else is the training side. Emits one row per contaminated
    * training doc: how many distinct n-grams it shares and with how many
    * benchmark docs.
    *
    * The 100 TB plan: both sides explode to (doc_id, 8-byte n-gram hash) —
    * the hash trick from [[ngramJaccard]], the shuffle payload is never
    * the text — and the benchmark side (an eval suite: thousands of docs,
    * not billions) is `broadcast`, so the overlap join is map-side against
    * the streamed training corpus; the only shuffle is the final narrow
    * groupBy on contaminated doc ids. No DF cap here on purpose —
    * contamination wants EVERY shared n-gram reported, and the benchmark
    * side being small bounds the join fan-out by itself.
    */
  def contamination(
      docs: DataFrame,
      benchFilter: Column,
      n: Int = 4): DataFrame = {
    val ex = withShingles(docs, n)
      .select(col("doc_id"), explode(graft.functions.HexHash60All(col("sh"))).as("sg"))
    val bench = ex.where(benchFilter)
      .select(col("doc_id").as("bench_id"), col("sg"))
    val train = ex.where(!benchFilter)
    train.join(broadcast(bench), "sg")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("sg")).as("n_shared_ngrams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Cross-document duplicated-span detection — the bounded, distributable
    * form of exact substring dedup (Lee et al. '21, "Deduplicating
    * Training Data Makes Language Models Better"): every `w`-token window
    * (sampled every `stride` tokens) is hashed, and windows whose hash
    * occurs in ≥ `minDocs` DISTINCT documents are reported with their
    * in-document token offset — the repeated passages (licenses, headers,
    * templated paragraphs) that survive document-level dedup because the
    * surrounding text differs. The suffix-array construction finds every
    * such span exactly; rolling windows at stride s find any duplicated
    * run of ≥ w + s − 1 tokens while keeping the plan two hash shuffles
    * on 8-byte keys (window hash agg + the report join) over a frame of
    * rows × positions/stride — contamination-class volume, corpus-scale.
    * Within-doc repeats don't trigger (distinct-doc count); stride 1
    * recovers exact-w sensitivity.
    */
  def dupSpans(
      docs: DataFrame,
      w: Int = 15,
      stride: Int = 5,
      minDocs: Int = 2): DataFrame = {
    require(w >= 2 && stride >= 1, s"need w >= 2, stride >= 1, got w=$w stride=$stride")
    // SpanHashes is the codegen'd form of the old per-position algebra
    // (`transform(sequence(…), p => struct(p, hexHash(concat_ws(" ",
    // slice(tk, p, w)))))` — an interpreted lambda per position);
    // bit-identical (span_start, span_hash) pairs, parity-spec pinned
    val spans = docs
      .select(col("doc_id"),
        explode(graft.functions.SpanHashes(tokens(col("text")), w, stride))
          .as("s"))
      .select(col("doc_id"), col("s.span_start").cast("long").as("span_start"),
        col("s.span_hash").as("span_hash"))
      // referenced by the hot-hash aggregation AND the report join: hash
      // the windows once (narrow 24-byte rows, spill-safe)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hot = spans.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    val out = spans.join(hot, "span_hash")
      .select(col("doc_id"), col("span_start"), col("span_hash"), col("n_docs"))
      // eager materialization, then cache release (minhashPairs note)
      .localCheckpoint()
    spans.unpersist()
    out
  }

  /** The REMOVAL step paired with [[dupSpans]]' detection — the actual
    * dedup of Lee et al. '21's exact-substring method: every token covered
    * by a window that appears in ≥ `minDocs` distinct documents is dropped
    * from the text; unique content survives in place. Emits the cleaned
    * text plus removal telemetry (a pipeline thresholds on
    * `n_tokens_removed / n_tokens` to kill mostly-boilerplate docs).
    *
    * Plan: the hot-span frame (contamination-class volume — only spans
    * that recur across docs) aggregates to ONE row per affected doc (a
    * small sorted start-offset array), left-joins the corpus on doc_id,
    * and the strip itself is a map-side indexed `filter` over the token
    * array — membership against the per-doc offsets, never a second
    * corpus shuffle beyond [[dupSpans]]' two 8-byte-key passes.
    */
  def stripDupSpans(
      docs: DataFrame,
      w: Int = 15,
      stride: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val hot = dupSpans(docs, w, stride, minDocs)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("span_start"))).as("starts"))
    // StripSpans is the codegen'd form of the old per-token algebra
    // (`filter(tk, (t, i) => !exists(st, …))` + array_join + sizes — an
    // interpreted lambda per token with a nested exists walk); `starts`
    // is sorted (sort_array above), which the kernel's two-pointer sweep
    // requires. Identical struct, parity-spec pinned.
    docs.join(hot, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.StripSpans(tokens(col("text")),
          coalesce(col("starts"), array().cast("array<long>")), w).as("s"))
      .select(col("doc_id"), col("s.text_clean"),
        col("s.n_tokens"), col("s.n_tokens_removed"))
  }

  /** Cross-document duplicated-LINE detection — the line-granularity
    * exact dedup of web-pipeline curation (CCNet preprocesses every shard
    * by dropping duplicated lines, Wenzek et al. '19 §4.1; RefinedWeb
    * and FineWeb report duplicated-line fractions as quality gates):
    * boilerplate lines (nav bars, cookie banners, footers, "subscribe"
    * prompts) recur VERBATIM across pages while the surrounding text
    * differs, so document-level dedup never sees them. Every non-empty
    * trimmed line is hashed (the shared 60-bit md5 hash); lines whose
    * hash occurs in ≥ `minDocs` DISTINCT documents are reported with
    * their 1-based line number.
    *
    * The natural-boundary sibling of [[dupSpans]] (token windows at a
    * stride): same two-8-byte-key-shuffle plan — line-hash aggregation +
    * the report join over the persisted (doc_id, line_no, line_hash)
    * frame (narrow 24-byte rows) — but sensitivity is exact at line
    * granularity and cost is rows × lines/doc, no stride/window tuning.
    * Within-doc repeats alone don't trigger (distinct-doc count).
    */
  def dupLines(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs
      .select(col("doc_id"),
        posexplode(transform(split(col("text"), "\n"), trim(_)))
          .as(Seq("pos", "line")))
      .where(length(col("line")) > 0)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("line_no"),
        hexHash(col("line")).as("line_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hot = lines.groupBy(col("line_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    val out = lines.join(hot, "line_hash")
      .select(col("doc_id"), col("line_no"), col("line_hash"), col("n_docs"))
      .localCheckpoint()
    lines.unpersist()
    out
  }

  /** The REMOVAL step paired with [[dupLines]] — CCNet's act, not just its
    * report: every line whose hash recurs in ≥ `minDocs` distinct
    * documents is dropped in place from every document; unique lines (and
    * blank separators) survive. Emits the cleaned text plus removal
    * telemetry (`n_lines` counts non-empty lines; a pipeline thresholds
    * on the removed fraction to kill mostly-boilerplate pages — the
    * FineWeb duplicated-line-fraction gate as an act).
    *
    * Plan (the [[stripDupSpans]] discipline): the hot-line frame —
    * boilerplate-volume, only lines that recur across docs — aggregates
    * to ONE row per affected doc (a hash set), left-joins the corpus on
    * doc_id, and the strip is a map-side `filter` over the line array
    * testing membership against the per-doc set. No corpus shuffle
    * beyond dupLines' two 8-byte-key passes.
    */
  def stripDupLines(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val hot = dupLines(docs, minDocs)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("line_hash")).as("hot_hashes"))
    docs.join(hot, Seq("doc_id"), "left")
      .select(col("doc_id"),
        bindOnce(transform(split(col("text"), "\n"), trim(_)), ln =>
          bindOnce(coalesce(col("hot_hashes"), array().cast("array<bigint>")), hh => {
            val kept = filter(ln, l =>
              length(l) === 0 || !array_contains(hh, hexHash(l)))
            struct(
              array_join(kept, "\n").as("text_clean"),
              size(filter(ln, l => length(l) > 0)).cast("long").as("n_lines"),
              (size(ln) - size(kept)).cast("long").as("n_lines_removed"))
          })).as("s"))
      .select(col("doc_id"), col("s.text_clean"),
        col("s.n_lines"), col("s.n_lines_removed"))
  }

  /** Connected components over an undirected near-duplicate pair set —
    * the canonicalization step of a dedup pipeline: every document in a
    * component maps to the component's minimum doc id (`group_id`), so
    * "keep one per cluster" is a simple `group_id = doc_id` filter.
    *
    * Iterative min-label propagation with POINTER JUMPING, semi-naive:
    * each round takes, per node, the minimum of its own label, its
    * neighbors' labels (one join against the symmetrized,
    * checkpointed-once edge set), and its label's label (one self-join —
    * the path-halving step). Neighbor propagation alone converges in
    * diameter rounds, which a transitive near-dup CHAIN can make large
    * (a 60-doc chain silently exceeded the old 50-round cap — caught by
    * the union-find property spec); the label(label) jump squares the
    * pointer each round, so convergence is O(log diameter) — ~7 rounds
    * for a 100-node chain, still one round for the clique-shaped
    * components real near-dup clusters mostly are. If the cap is somehow
    * still hit, the operator now FAILS LOUDLY instead of returning
    * wrong groups.
    *
    * SMALL-GRAPH FAST PATH (r22): when the materialized symmetrized edge
    * set is under `spark.graft.dedupgroups.localThreshold` (default 2M
    * edges — the broadcast-size class), the same fixpoint is computed by
    * one driver-side union-find instead of the iteration's ≥ 4 driver
    * actions; the result artifact and labels are identical
    * (spec-pinned). The gate is the MEASURED count of the already-
    * materialized edges, so corpus-scale graphs never collect.
    *
    * PER-ROUND BARRIER — parquet spill, NOT localCheckpoint. Measured
    * (r14, 10⁶-node chain forcing 22 rounds): with a per-round
    * `localCheckpoint`, driver-side per-round cost starts DOUBLING
    * around round 16 (0.8 s → 38 s by round 22; 2.7× the round-15–21
    * window of the real 30×-corpus run) even though every stage in the
    * round totals < 2 s — the checkpoint does not yield a fully
    * independent frame, and per-action driver work grows with the
    * accumulated generation graph when the round's plan references the
    * checkpointed labels three times (neighbor join, pointer-jump
    * self-join, base). A parquet round-trip IS a hard barrier: the next
    * round plans against a plain file scan, and the same 22-round chain
    * runs flat (~1 s every round, 34.5 s total vs 82 s). Labels
    * alternate between two spill slots so a round never overwrites the
    * slot it is reading. Because the pathology is a function of
    * checkpoint GENERATION DEPTH (flat through ~8, compounding past
    * ~16), the barrier is HYBRID: the first 8 generations use the
    * in-memory localCheckpoint (clique-shaped real components converge
    * in 2–4 rounds and never pay file I/O), and only deep-diameter
    * graphs graduate to the parquet spill, well before the compounding
    * regime — the 10⁶-chain regression spec covers the crossover.
    *
    * SPILL LIFECYCLE (the multi-node safety contract): the barrier root
    * resolves spillDir param → the session's `setCheckpointDir` →
    * driver-local temp ONLY under a local master — a multi-node job with
    * neither configured fails loudly up front instead of spilling to a
    * path the executors can't read. Every invocation works inside its
    * OWN `dedupgroups-<uuid>` subdirectory of that root (concurrent
    * invocations against one checkpoint dir can't collide) and deletes
    * ONLY that subdirectory's intermediate slots on the way out — never
    * the caller's root, which may be the job's shared checkpoint dir
    * with other state in it. The returned frame reads the final labels
    * from `<subdir>/result` — a plain fault-tolerant file scan (an
    * executor loss recomputes from the file, unlike a localCheckpoint
    * whose lost blocks are unrecoverable); like a reliable Spark
    * checkpoint, that one file set outlives the call. Reclaim it via
    * [[dedupGroupsReclaimable]]'s handle when the result is no longer
    * needed; the self-created temp-root case additionally cleans itself
    * up at JVM exit.
    */
  def dedupGroups(pairs: DataFrame, maxIters: Int = 50,
      spillDir: Option[String] = None): DataFrame =
    dedupGroupsReclaimable(pairs, maxIters, spillDir).groups

  /** [[dedupGroups]]' result plus its RECLAMATION HANDLE. The returned
    * frame scans `resultPath` (fault-tolerant file lineage — see
    * [[dedupGroups]]), which means the file set OUTLIVES the call: a
    * long-running pipeline invoking [[Similarity.semanticGroups]] daily
    * against a shared checkpoint root would otherwise accrete one orphan
    * `dedupgroups-<uuid>` dir per day with no sanctioned way to remove
    * it. `reclaim()` deletes exactly this invocation's subdirectory —
    * never a sibling invocation's state, never the caller's root — after
    * which the frame must not be used. When the root was a self-created
    * driver-temp dir (no spillDir, no session checkpoint dir, local
    * master), a JVM shutdown hook additionally reclaims it on exit, so
    * an interactive session that never calls `reclaim()` still leaks
    * nothing past its own lifetime.
    */
  final case class DedupGroupsResult(
      groups: DataFrame, resultPath: String, spillSubdir: String) {
    def reclaim(): Unit = {
      val p = new org.apache.hadoop.fs.Path(spillSubdir)
      val fs = p.getFileSystem(
        groups.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
  }

  def dedupGroupsReclaimable(pairs: DataFrame, maxIters: Int = 50,
      spillDir: Option[String] = None): DedupGroupsResult = {
    val spark = pairs.sparkSession
    // Symmetrize with ONE map-side explode, not a self-union: the union's
    // two branches each contain the whole upstream plan, so a COMPUTED
    // pair frame (semantic_groups: the full docEmbed∘knnGraph chain) ran
    // twice before r22 (guide §2.4 — don't compute things twice; the
    // explode produces the identical row set in one pass).
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint() // reused every iteration: compute the pair set once
    val ownsTempRoot =
      spillDir.isEmpty && spark.sparkContext.getCheckpointDir.isEmpty &&
        spark.sparkContext.isLocal
    val root = resolveSpillRoot(spillDir,
      spark.sparkContext.getCheckpointDir, spark.sparkContext.isLocal)
    val spill = s"$root/dedupgroups-${java.util.UUID.randomUUID()}"
    // Self-created temp root: the caller never learns the path unless it
    // keeps the handle, so tie the root's lifetime to the JVM — delete on
    // exit (repeat invocations in a long-lived session stop accreting
    // disk). ONE static hook drains a registry (FileIO.reclaimOnExit);
    // per-invocation hooks would accrete a Thread per call in the very
    // long-lived sessions this exists for. Caller-provided roots are the
    // caller's to manage.
    if (ownsTempRoot) graft.core.FileIO.reclaimOnExit(root)
    // SCALE-ADAPTIVE small-graph fast path (r22, guide §1.2 — remove
    // whole jobs): the distributed iteration costs ≥ 4 driver actions
    // (init barrier, ≥ 1 propagation round, verification round, result
    // write) even on a graph that converges immediately, and each round
    // is several exchanges over what is usually a TINY frame — near-dup
    // edge sets are small relative to the corpus at every scale, and at
    // sf0.1 the whole semantic_groups component graph is a few hundred
    // edges paying ~3 s of pure job floor. When the materialized edge
    // count is under the threshold (spark.graft.dedupgroups.localThreshold,
    // default 2M symmetrized edges ≈ 32 MB — comfortably driver-bounded,
    // the broadcast-join size class), compute the SAME fixpoint — every
    // node labelled with its component's minimum id — with one in-memory
    // union-find over the collected edges, and persist the same result
    // artifact. The collect is gated on the measured count, never
    // assumed (§5: bounded driver work only); past the threshold the
    // distributed iteration below runs unchanged. Output equality is
    // spec-pinned against the iterative path on the same graphs.
    val localMax = spark.conf
      .get("spark.graft.dedupgroups.localThreshold", "2000000").toLong
    if (edges.count() <= localMax) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) {
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      edges.collect().foreach { r =>
        val a = r.getLong(0)
        val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a)
        val rb = find(b)
        // union keeps the smaller id as root, so a component's root IS
        // its minimum id — the iterative path's exact fixpoint
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(id => rows += ((id.longValue(), find(id.longValue()))))
      val resultPath = s"$spill/result"
      spark.createDataFrame(rows.toSeq).toDF("id", "label")
        .write.mode("overwrite").parquet(resultPath)
      return DedupGroupsResult(
        spark.read.parquet(resultPath)
          .select(col("id").as("doc_id"), col("label").as("group_id")),
        resultPath, spill)
    }
    var lastSlot: String = null
    // HYBRID barrier: the localCheckpoint pathology is a function of
    // checkpoint GENERATION depth (driver cost starts compounding past
    // ~16 generations when the round plan references the labels 3×;
    // flat through 8 — measured r14, SCALECHECK_r14), while the parquet
    // round-trip pays two file passes every round regardless. So the
    // first 8 generations take the cheap in-memory barrier — clique-ish
    // real dedup components converge in 2–4 rounds and never touch the
    // filesystem — and only deep-diameter graphs graduate to the parquet
    // spill, well before the compounding regime.
    val hybridGens = 8
    var gen = 0
    def barrier(df: DataFrame, slot: Int): DataFrame = {
      gen += 1
      if (gen <= hybridGens) df.localCheckpoint()
      else {
        val p = s"$spill/labels_$slot"
        df.write.mode("overwrite").parquet(p)
        lastSlot = p
        spark.read.parquet(p)
      }
    }
    // INIT fused with the first propagation step (r21): from identity
    // labels, round 1 computes exactly least(id, min(neighbor ids)) —
    // the pointer jump is the identity map there — so seed the labels
    // with that value directly. Bit-identical label trajectory one round
    // ahead; saves one full barrier + convergence-count round on EVERY
    // graph (clique-shaped components then converge in the single
    // verification round). Node set = src set (edges are symmetrized),
    // and the groupBy replaces the old distinct — same shuffle count.
    var labels = barrier(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("label")), 0)
    var changed = 1L
    var iter = 0
    def round(): Unit = {
      val prop = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // pointer jump: my label is a node id — fetch THAT node's label
      val hop = labels.select(col("id").as("jid"), col("label").as("jlabel"))
      // convergence count rides the barrier action itself via observe()
      // (r21): the old per-round `next.where(chg).count()` was a second
      // Spark job every round — cheap individually, but the iteration is
      // job-floor-bound on converged-in-3-rounds component graphs. The
      // observed metric fires when the barrier materializes (verified for
      // BOTH barrier forms: localCheckpoint and the parquet write).
      val obs = org.apache.spark.sql.Observation()
      val next = barrier(labels.join(prop, col("id") === col("src"), "left")
        .join(hop, col("label") === col("jid"), "left")
        .select(col("id"),
          least(col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("jlabel"), col("label"))).as("nl"),
          col("label").as("old"))
        .select(col("id"), col("nl").as("label"),
          (col("nl") < col("old")).as("chg"))
        .observe(obs, coalesce(sum(when(col("chg"), lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("nchg")),
        // write the slot the round is NOT reading from
        1 - (iter % 2))
      // bounded wait (r21 advice): the barrier action above completed
      // synchronously, so the metric is due immediately — if it never
      // arrives (a barrier form whose action stops reporting
      // CollectMetrics), fail loudly instead of hanging the driver on
      // Observation.get's unbounded block
      changed =
        try {
          import scala.concurrent.duration.DurationInt
          scala.concurrent.Await.result(
            scala.concurrent.Future(obs.get("nchg"))(
              scala.concurrent.ExecutionContext.global),
            120.seconds).asInstanceOf[Long]
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              "dedupGroups: the convergence metric never arrived from the " +
                "barrier action (CollectMetrics did not fire within 120 s) " +
                "— the barrier form no longer reports observed metrics")
        }
      labels = next.select("id", "label")
      iter += 1
    }
    while (changed > 0 && iter < maxIters) round()
    if (changed > 0) {
      // the cap-hit round still MOVED labels — they may have just
      // finished converging on that exact round. Convergence is only
      // proven by a zero-change round: run one verification round and
      // throw only if labels are genuinely still moving.
      round()
      if (changed > 0)
        throw new IllegalStateException(
          s"dedupGroups failed to converge within $maxIters rounds " +
            s"($changed labels still moving) — raise maxIters; returning " +
            "partial labels would silently split components")
    }
    // promote the final labels to <subdir>/result — a same-FS rename of
    // the last parquet slot when the deep-round path ran, one small
    // write when convergence stayed inside the in-memory generations —
    // reclaim the intermediate slots, and return a plain file-scan frame
    // over the result: fault-tolerant lineage, nothing pointing at
    // deleted paths or evictable blocks
    val fs = new org.apache.hadoop.fs.Path(spill)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resultPath = s"$spill/result"
    if (lastSlot == null)
      labels.select("id", "label").write.mode("overwrite").parquet(resultPath)
    else {
      require(fs.rename(new org.apache.hadoop.fs.Path(lastSlot),
          new org.apache.hadoop.fs.Path(resultPath)),
        s"dedupGroups: failed to promote $lastSlot to $resultPath")
      Seq(0, 1).foreach { s =>
        val p = new org.apache.hadoop.fs.Path(s"$spill/labels_$s")
        scala.util.Try(fs.delete(p, true))
      }
    }
    DedupGroupsResult(
      spark.read.parquet(resultPath)
        .select(col("id").as("doc_id"), col("label").as("group_id")),
      resultPath, spill)
  }

  /** [[dedupGroups]]' spill-root resolution, factored pure so every
    * branch is spec-testable without a non-local session: explicit
    * `spillDir` wins; else the session checkpoint dir (already the
    * shared-filesystem path on a real cluster); else a driver-local temp
    * dir ONLY when the master is local — on a multi-node master a
    * driver-local path would be invisible to executors and the barrier
    * would corrupt or lose labels, so fail loudly before any work.
    */
  private[graft] def resolveSpillRoot(
      spillDir: Option[String],
      checkpointDir: Option[String],
      isLocalMaster: Boolean): String =
    spillDir.orElse(checkpointDir).getOrElse {
      if (isLocalMaster)
        java.nio.file.Files.createTempDirectory("graft-dedupgroups-spill").toString
      else
        throw new IllegalArgumentException(
          "dedupGroups needs a shared-filesystem spill directory on a " +
            "multi-node cluster: pass spillDir or set " +
            "spark.sparkContext.setCheckpointDir — a driver-local temp " +
            "dir would be invisible to executors")
    }

  /** Incremental exact dedup: filter a NEWLY-INGESTED batch against the
    * EXISTING corpus — the ingestion shape of a continuously-growing
    * pipeline, where each new crawl is deduped against everything already
    * accepted without ever re-reading (let alone re-shuffling) the corpus
    * text. Both sides reduce map-side to a 16-byte md5 text fingerprint;
    * the batch keeps its smallest doc_id per fingerprint (within-batch
    * dedup, same canonical-choice rule as [[TextAnalysis.dedupExact]]),
    * then anti-joins the existing side's distinct fingerprints. Shuffle
    * volume is fingerprints + ids — never payload — and in production the
    * existing side is a persisted fingerprint table maintained across
    * ingests, so the per-ingest cost is O(batch) + a fingerprint-key join
    * that AQE turns into a broadcast when the accepted set is small.
    * Output: one row per surviving batch document (doc_id, text_md5,
    * n_copies = within-batch multiplicity).
    */
  def incrementalDedup(newBatch: DataFrame, existing: DataFrame): DataFrame =
    incrementalDedupFp(newBatch,
      existing.select(md5(col("text")).as("text_md5")))

  /** [[incrementalDedup]] against an ALREADY-REDUCED fingerprint table
    * (`text_md5`) — the form the production loop runs, with the existing
    * side a persisted [[FingerprintStore]] artifact instead of corpus
    * text. The per-ingest cost drops to O(batch) + a 16-byte-key
    * anti-join; the accepted corpus's text is never re-read.
    */
  def incrementalDedupFp(newBatch: DataFrame, fingerprints: DataFrame): DataFrame = {
    val canon = newBatch
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).cast("long").as("doc_id"),
        count(lit(1)).as("n_copies"))
    val seen = fingerprints.select(col("text_md5")).distinct()
    canon.join(seen, Seq("text_md5"), "left_anti")
      .select(col("doc_id"), col("text_md5"), col("n_copies"))
  }

  /** [[incrementalDedup]]'s sketch form: the accepted corpus compresses
    * into ONE Bloom filter (Spark's native `BloomFilterAggregate` — the
    * expression behind runtime bloom-filter join pruning) and the batch is
    * filtered MAP-SIDE by `BloomFilterMightContain` on the same 60-bit
    * text-hash key. The accepted side never re-shuffles the batch: at
    * `fpp` = 1 % the sketch costs ~9.6 bits per accepted document — 10⁹
    * accepted docs ≈ 1.2 GB, a broadcast instead of the anti-join's
    * batch-side shuffle against a 16-byte-key fingerprint table — and in
    * production it is built once per ingest epoch and reused across every
    * batch of the epoch.
    *
    * The trade is explicit and one-sided: a Bloom "maybe" can only
    * OVER-drop (≤ fpp of genuinely novel docs lost — tolerable in a
    * pretraining pipeline that samples anyway); a dup can never be
    * admitted (no false negatives). Within-batch canonicalization is the
    * same min-doc_id groupBy as [[incrementalDedup]], so output schema and
    * semantics match except for the documented FP loss.
    *
    * `expectedItems` sizes the filter; pass the maintained corpus
    * cardinality in production (defaults to a plan-time `count()` of the
    * existing side — one scalar job, the codebook-training pattern).
    */
  def bloomIngestDedup(
      newBatch: DataFrame, existing: DataFrame,
      fpp: Double = 0.01, expectedItems: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val n = math.max(1L, expectedItems.getOrElse(existing.count()))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .create(n, fpp).bitSize()
    // The runtime-filter expression SILENTLY clamps n/numBits to the
    // session's runtime.bloomFilter.maxNumItems/maxNumBits confs — a
    // clamped sketch quietly over-drops (real fpp → 1 as the corpus
    // outgrows the cap). Fail loudly instead; past the caps, use the
    // uncapped persisted-artifact path ([[FingerprintStore]] +
    // [[bloomSketchDedup]]) or raise the confs deliberately.
    val spark = newBatch.sparkSession
    // getOption with the documented defaults (4M items / 64M bits) so a
    // Spark build without these optimizer confs degrades to the stock
    // caps instead of breaking the operator with NoSuchElementException
    val maxItems = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      .map(_.toLong).getOrElse(4000000L)
    val maxBits = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    require(n <= maxItems && numBits <= maxBits,
      s"corpus of $n items needs $numBits bloom bits, beyond the runtime " +
        s"bloom-filter caps ($maxItems items / $maxBits bits): use " +
        "FingerprintStore + bloomSketchDedup (uncapped) or raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits")
    val bloom = existing
      .select(hexHash(col("text")).as("k"))
      .agg(column(new BloomFilterAggregate(
        expression(col("k")), expression(lit(n)), expression(lit(numBits)))
        .toAggregateExpression()).as("bloom"))
    val canon = newBatch
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).cast("long").as("doc_id"),
        count(lit(1)).as("n_copies"))
    // the sketch enters the batch plan as a SCALAR SUBQUERY — the exact
    // shape Spark's own InjectRuntimeFilter produces: the engine runs the
    // 1-row aggregate once, holds the sketch driver-side, ships it with
    // the task binary, and the batch filter is pure map-side — no shuffle
    // against the corpus at all (BloomFilterMightContain requires
    // constant-or-subquery for its filter side, so a broadcast join is not
    // an option here by construction)
    val bloomSq = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      bloom.queryExecution.analyzed)
    canon
      .where(!column(new BloomFilterMightContain(
        bloomSq,
        expression(conv(substring(col("text_md5"), 1, 15), 16, 10).cast("long")))))
      .select(col("doc_id"), col("text_md5"), col("n_copies"))
  }

  /** [[bloomIngestDedup]] against a PERSISTED sketch
    * ([[FingerprintStore.loadBloom]]) instead of one aggregated from
    * corpus text per ingest: the loaded bytes enter the plan as a binary
    * literal (BloomFilterMightContain's constant filter side — the same
    * contract the scalar-subquery form satisfies), so the whole dedup is
    * one MAP-SIDE pass over the batch, zero jobs against the corpus.
    * Same one-sided trade as the aggregate form: ≤ fpp of novel docs
    * over-dropped, no dup ever admitted.
    */
  def bloomSketchDedup(newBatch: DataFrame, sketch: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(sketch.nonEmpty, "refusing to filter against an empty sketch")
    val canon = newBatch
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).cast("long").as("doc_id"),
        count(lit(1)).as("n_copies"))
    canon
      .where(!column(new BloomFilterMightContain(
        expression(lit(sketch)),
        expression(conv(substring(col("text_md5"), 1, 15), 16, 10).cast("long")))))
      .select(col("doc_id"), col("text_md5"), col("n_copies"))
  }
}
