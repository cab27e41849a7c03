package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextAnalysis.bindOnce

/** Embedding-similarity operators for the LLM-data-pipeline tier
  * (SURVEY.md §2): near-duplicate detection by cosine similarity and
  * (approximate) nearest-neighbor search over an `embeddings(vec_id,
  * embedding: array<float>, ...)` table.
  *
  * All vector math is Catalyst column algebra over `array<double>` — a
  * strict sequential left fold, so results are bit-reproducible across
  * partitionings and across engines (the DuckDB oracle mirrors the same
  * fold). No UDFs.
  *
  * Scale notes (100 TB):
  * - The default plans are bucketed: `embedCosineDup` candidates come from
  *   a banded sign-projection equi-join (shuffle O(rows × bands), verify
  *   within buckets), `annLsh`/`annIvf` restrict search to the query's
  *   bucket/cell. `exact = true` (cosine-dup) and `annTopK` are the exact
  *   baselines — `annTopK` streams map-side against broadcast queries with
  *   a map-capped single-window top-k (rank ≤ k compiles to a Partial
  *   WindowGroupLimit below the exchange) so no task ever sorts or
  *   forwards the whole corpus's scores.
  * - Embeddings are assumed fixed-width (one model ⇒ one dimension); the
  *   width is probed from the first row at plan time. Mismatched-width
  *   pairs yield NULL cosine (DotProduct's contract) and drop out of every
  *   threshold/rank filter rather than scoring as a plausible number.
  */
object Similarity {

  /** Vector column as array<double> (floats widen exactly). */
  def vec(c: Column): Column = transform(c, _.cast("double"))

  /** Sequential-fold dot product: ((0 + a1·b1) + a2·b2) + … — the exact
    * fold the DuckDB oracle replays via `list_reduce`, so the resulting
    * double is bitwise identical in both engines. Backed by the codegen'd
    * [[graft.functions.DotProduct]] expression (a primitive loop in
    * whole-stage codegen) rather than the interpreted
    * `aggregate(zip_with(...))` higher-order form — same fold order, same
    * bits, ~100× less per-pair overhead in the pairwise-scoring joins.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  private[operators] def normalized(emb: DataFrame): DataFrame =
    // The cast vector is let-bound (TextAnalysis.bindOnce): a raw `vec(...)`
    // expression referenced by both the output column and the norm fold
    // would be evaluated twice per row when interpreted CSE misses.
    emb.select(col("vec_id"),
        TextAnalysis.bindOnce(vec(col("embedding")),
          v => struct(v.as("v"), l2norm(v).as("nrm"))).as("s"))
      .select(col("vec_id"), col("s.v").as("v"), col("s.nrm").as("nrm"))

  /** Embedding width, for materializing plane-weight literals: one
    * footer-bounded first-row fetch at plan time (not a scan). Fixed-width
    * embeddings are assumed — see the object doc. Empty frame → 1, and
    * every downstream plan then correctly yields an empty result (nothing
    * survives the joins) instead of throwing on `head`.
    */
  private[operators] def probeDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** Hyperplane count for a corpus of `corpusCount` vectors:
    * `ceil(log₂(corpusCount / targetBucket))`, floored at the default 4.
    *
    * The scaling rule: a band hashes into 2^planes buckets, and the
    * within-bucket verify work is Σ bucket² ≈ n²/2^planes per band — LINEAR
    * in n only while 2^planes grows with n (expected bucket size pinned at
    * `targetBucket`). A fixed plane count quietly turns the verify stage
    * quadratic at 100× the corpus: planes must follow log₂(n). At the test
    * SFs this returns the long-standing default 4; at 10⁹ vectors, 24
    * (≈ 16 M buckets/band, the FAISS-scale regime).
    */
  def planesFor(corpusCount: Long, targetBucket: Long = 64): Int = {
    val buckets = math.max(1L, (corpusCount + targetBucket - 1) / targetBucket)
    val ceilLog2 = if (buckets <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(4, ceilLog2)
  }

  /** All vector pairs with cosine ≥ `threshold` — embedding near-dup
    * detection.
    *
    * Default plan is the one that survives 100 TB: banded sign-projection
    * LSH (`bands` independent bucket sets of `planes` bits each) turns the
    * cross product into an equi-join on (band, bucket); exact cosine is
    * verified only within candidate buckets. Shuffle volume is
    * rows × bands, never rows². Recall is probabilistic, the standard LSH
    * trade: a pair at exactly `threshold` = 0.4 collides in one band with
    * p ≈ 0.16, so 8 bands see it with p ≈ 0.75 — and higher-cosine (the
    * actual near-dup) pairs approach 1. Pairs missed by every band are
    * unseen, by design.
    *
    * `exact = true` keeps the all-pairs broadcast plan: exhaustive, but
    * O(n²) pairs with the build side in memory — a verification baseline
    * for bucket-parameter tuning, not a corpus-scale operator.
    *
    * `corpusHint` (vector count, or any same-order estimate) derives
    * `planes` via [[planesFor]] — REQUIRED at corpus scale: the `planes`
    * default is tuned for test-SF data, and a fixed plane count makes the
    * within-bucket verify quadratic as the corpus grows (see planesFor).
    */
  def embedCosineDup(
      emb: DataFrame,
      threshold: Double = 0.4,
      exact: Boolean = false,
      bands: Int = 8,
      planes: Int = 4,
      corpusHint: Option[Long] = None): DataFrame = {
    val effPlanes = corpusHint.map(planesFor(_)).getOrElse(planes)
    val e = normalized(emb)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs =
      if (exact) a.join(broadcast(b), col("id_a") < col("id_b"))
      else {
        val dim = probeDim(emb)
        // Band i uses plane indices [i·planes, (i+1)·planes) of the shared
        // deterministic plane family — bands are independent by seed.
        // localCheckpoint: the (vec_id, band, bkey) frame is the self-join's
        // both sides — without it the bands × planes plane-dots run twice
        // per vector. Narrow (id + int + short string), rows × bands.
        val bucketed = e.select(col("vec_id"), posexplode(
            array((0 until bands).map(i =>
              lshBucket(col("v"), effPlanes, dim, planeOffset = i * effPlanes)): _*))
          .as(Seq("band", "bkey")))
          .localCheckpoint()
        val cand = bucketed.as("x").join(bucketed.as("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
          .distinct()
        cand.join(a, "id_a").join(b, "id_b")
      }
    pairs
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
  }

  /** Exact top-k neighbors per query vector (brute-force ANN baseline).
    * Queries broadcast; candidates stream map-side. The per-query top-k
    * is ONE window whose rank ≤ k filter compiles to WindowGroupLimit
    * Partial (below the exchange) + Final: each map partition forwards at
    * most k rows per query, so the global phase ranks the
    * ≤ k × partitions survivors globally. Any global top-k row ranks ≤ k
    * within its own partition, so phase 1 loses nothing; ties break on
    * neighbor id in both phases, making the result exact and deterministic
    * under any partitioning.
    */
  def annTopK(emb: DataFrame, queryFilter: Column, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normalized(emb)
    val q = e.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("vq"), col("nrm").as("nq"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("vq"), col("v")) / (col("nq") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cosine"))
  }

  /** Recall@k of an approximate top-k list against an exact baseline —
    * the ANN families' quality dial made a first-class operator instead
    * of a spec-only assertion: a deployment tuning `nprobe`/`bands`/
    * `bucketCap`/codebook size runs THIS against a sampled exact
    * baseline to price each recall knob before committing a corpus-wide
    * build. Inputs are any two `(query_id, neighbor_id, ...)` ranked
    * lists (the `annTopK`/`annIvf`/`annLsh`/`pqSearch`/
    * `VectorIndexStore.search` output shape); output is per-query
    * `(hits, exact_k, recall)`.
    *
    * Scale shape: both inputs are ≤ Q × k skinny lists by construction
    * — the join and aggregate never touch corpus volume, whatever
    * corpus produced the lists. Recall is a 4-decimal rounded exact
    * ratio of integer counts (engine-portable); queries the
    * approximate side missed entirely still appear (hits = 0), queries
    * absent from the EXACT side don't — the baseline defines the
    * denominator.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    // dropDuplicates on both sides: a duplicated (query_id, neighbor_id)
    // row in either input would fan the join out and silently inflate
    // hits and exact_k past k. Top-k producers emit distinct pairs
    // today, but the guard is one aggregate over Q × k rows — cheap
    // insurance against a caller unioning lists.
    exact.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
          .dropDuplicates("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(col("hit")).as("hits"),
        count(lit(1)).as("exact_k"),
        round(count(col("hit")) * lit(1.0) / count(lit(1)), 4).as("recall"))

  /** Pseudo-random hyperplane weight for (plane p, dimension d ≥ 1):
    * uniform on [-1, 1] in steps of 1e-3, derived from the shared
    * md5-based hash (TextAnalysis.hexHash semantics) so the DuckDB oracle
    * draws the identical planes. Computed DRIVER-SIDE — the weights are
    * row-independent, so hashing them per row (rows × planes × dim md5
    * calls) would be pure waste at scale; as literals they fold into the
    * plan.
    */
  private[operators] def planeWeight(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane|$p|$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  /** Per-plane projections v·w_p for planes [planeOffset, planeOffset +
    * planes) as an array column. The plane weights are literal arrays (see
    * planeWeight); per row this costs planes × dim fused multiply-adds.
    */
  private def planeDots(v: Column, planes: Int, dim: Int, planeOffset: Int): Column =
    array((0 until planes).map { p =>
      val w = array((1 to dim).map(d => lit(planeWeight(planeOffset + p, d))): _*)
      dot(v, w)
    }: _*)

  /** Sign-random-projection bucket key: one bit per hyperplane
    * (sign of v·w_p), concatenated to a string key. `planes` bits ⇒
    * 2^planes buckets. `planeOffset` selects an independent plane family —
    * banding for embedCosineDup.
    */
  def lshBucket(v: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    concat_ws("", (0 until planes).map { p =>
      val w = array((1 to dim).map(d => lit(planeWeight(planeOffset + p, d))): _*)
      when(dot(v, w) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Probe buckets for a query vector: its own sign bucket plus, when
    * nprobe > 1, the nprobe − 1 buckets reached by flipping the
    * lowest-|projection| bits one at a time — the planes the vector sits
    * closest to, i.e. exactly where its true neighbors most plausibly
    * landed on the other side (multi-probe LSH, Lv et al. VLDB'07).
    * The bit ranking is expressed as a count ("how many planes have a
    * strictly smaller (|proj|, index)") instead of a sort, so the DuckDB
    * oracle replays it verbatim; ties break on plane index. Deterministic,
    * engine-portable, no reindexing or second pass over the data.
    */
  private[operators] def lshProbes(v: Column, planes: Int, dim: Int, nprobe: Int): Column =
    bindOnce(planeDots(v, planes, dim, planeOffset = 0), ds =>
      bindOnce(transform(ds, d => when(d >= 0, lit("1")).otherwise(lit("0"))), sg => {
        val main = array_join(sg, "")
        if (nprobe <= 1) array(main)
        else bindOnce(transform(ds, abs(_)), ad => {
          def rankOf(p: Column): Column =
            size(filter(sequence(lit(0), lit(planes - 1)), q =>
              element_at(ad, q + 1) < element_at(ad, p + 1) ||
                (element_at(ad, q + 1) === element_at(ad, p + 1) && q < p)))
          val flips = filter(sequence(lit(0), lit(planes - 1)), p => rankOf(p) < nprobe - 1)
          concat(array(main), transform(flips, p =>
            array_join(transform(sequence(lit(0), lit(planes - 1)), i =>
              when(i === p,
                when(element_at(sg, i + 1) === "1", lit("0")).otherwise(lit("1")))
                .otherwise(element_at(sg, i + 1))), "")))
        })
      }))

  /** LSH-bucketed ANN: same contract as `annTopK` but candidates are
    * restricted to the query's sign-projection bucket(s). The cross product
    * becomes an equi-join on the bucket key — the plan that survives
    * 100 TB (shuffle O(rows), verify O(bucket²)). Recall is probabilistic:
    * vectors in unprobed buckets are unseen, by design. `nprobe` > 1 adds
    * the query's nprobe − 1 nearest neighboring buckets (lowest-margin bit
    * flips — see lshProbes) for recall without touching the indexed side;
    * a neighbor matches at most one probe (buckets are distinct strings),
    * so no pair dedup is needed.
    *
    * `corpusHint` derives `planes` via [[planesFor]] — required at corpus
    * scale, where the fixed default leaves buckets O(n) wide (see
    * planesFor's scaling rule).
    */
  def annLsh(
      emb: DataFrame,
      queryFilter: Column,
      k: Int = 10,
      planes: Int = 4,
      nprobe: Int = 1,
      corpusHint: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val effPlanes = corpusHint.map(planesFor(_)).getOrElse(planes)
    require(nprobe >= 1 && nprobe <= effPlanes + 1,
      s"nprobe must be in [1, planes + 1 = ${effPlanes + 1}], got $nprobe")
    val dim = probeDim(emb)
    val e = normalized(emb).withColumn("bucket", lshBucket(col("v"), effPlanes, dim))
    val q = e.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("vq"), col("nrm").as("nq"),
        explode(lshProbes(col("v"), effPlanes, dim, nprobe)).as("qbucket"))
    val scored = e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("vq"), col("v")) / (col("nq") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cosine"))
  }

  /** Pseudo-random product-quantization codebook component for
    * (subspace m, centroid c, dimension d ≥ 1) — same md5-derived family
    * as planeWeight, so the DuckDB oracle draws the identical codebook.
    * A trained codebook (k-means per subspace) swaps in without changing
    * the plan.
    */
  private[operators] def pqWeight(m: Int, c: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq|$m|$c|$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  /** The PQ working frame: per row, `dss` = the m × k matrix of squared
    * L2 distances from each subvector to every codebook centroid, and
    * `codes` = the per-subspace argmin ids. One map-side pass through the
    * codegen'd [[graft.functions.PqDistances]] probe (three primitive
    * loops over the literal codebook — constant generated-code size, so
    * whole-stage codegen holds for ANY m/k; the previous fully-unrolled
    * expression tree blew Janino's 64 KB method limit at the defaults and
    * ran interpreted). The codebook is one flat plan literal — the
    * deterministic md5 family (pqWeight) by default, a trained k-means
    * codebook ([[trainPqCodebook]]) via `codebook`; the plan is identical
    * either way. `codes` is [[argminCodes]]; `dss` doubles as the ADC
    * lookup table of pqSearch.
    */
  private def pqTable(
      emb: DataFrame, m: Int, k: Int,
      codebook: Option[Array[Double]] = None): DataFrame = {
    val dim = probeDim(emb)
    val cb = resolvePqCodebook(dim, m, k, codebook)
    val e = emb.select(col("vec_id"), vec(col("embedding")).as("v"))
    e.select(col("vec_id"),
        graft.functions.PqDistances(col("v"), typedLit(cb.toSeq), m, k).as("dss"))
      .select(col("vec_id"), col("dss"), argminCodes(col("dss")).as("codes"))
  }

  /** PQ codes off a per-subspace distance matrix, for [[pqTable]] and
    * [[ivfPqEncode]]: `array_position(ds, array_min(ds))` — ties break on
    * the lower centroid id, engine-portable (the oracle's `list_position`).
    */
  private def argminCodes(dss: Column): Column =
    transform(dss, ds => array_position(ds, array_min(ds)) - 1)

  /** The ranked tail of the L2 searches ([[pqSearch]], [[sqSearch]],
    * [[adcTopK]]): per query the `kNN` nearest by `adist`, ties on vec_id,
    * as (query_id, neighbor_id, rank, approx_dist2). ONE window: rank ≤ kNN
    * compiles to WindowGroupLimit(Partial) below the exchange, so each map
    * partition forwards at most kNN rows per query (plan-asserted).
    */
  private def rankedAdist(scored: DataFrame, kNN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= kNN)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("adist"), 4).as("approx_dist2"))
  }

  /** PQ codebook resolution: an explicit (trained) flat codebook wins;
    * otherwise the deterministic md5 family. Validates the m/k/dim layout
    * either way.
    */
  private[operators] def resolvePqCodebook(
      dim: Int, m: Int, k: Int, codebook: Option[Array[Double]]): Array[Double] = {
    require(dim % m == 0, s"embedding width $dim must divide into $m subspaces")
    val sub = dim / m
    val cb = codebook.getOrElse(defaultCodebook(m, k, sub))
    require(cb.length == m * k * sub,
      s"codebook must be m × k × dim/m = ${m * k * sub} flat doubles, got ${cb.length}")
    cb
  }

  /** The deterministic md5-family codebook as the flat
    * `cb[(mi·k + ci)·sub + d]` layout [[graft.functions.PqDistances]]
    * reads. */
  private def defaultCodebook(m: Int, k: Int, sub: Int): Array[Double] =
    Array.tabulate(m * k * sub) { i =>
      pqWeight(i / (k * sub), i / sub % k, i % sub + 1)
    }

  /** Trained PQ codebook: per-subspace k-means (Lloyd) on a driver-side
    * sample, returned in the flat layout `pqEncode`/`pqSearch` accept —
    * the trained alternative to the md5 family, feeding the IDENTICAL
    * literal-codebook plan (swap the literal, nothing else moves).
    *
    * Deterministic end to end: the sample is the `sampleN` lowest vec_ids
    * (TakeOrderedAndProject — a per-partition top-N, not a corpus sort),
    * initial centroids are the first k distinct subvectors in that order
    * (k-means++ would add data-dependent randomness; on a shuffled-id
    * corpus first-k behaves comparably), and Lloyd iterations are exact
    * driver-side arithmetic: sampleN × k × sub flops per pass, seconds at
    * the 10⁴-sample default. Subspaces with fewer than k distinct
    * subvectors pad with md5-family centroids; empty clusters keep their
    * previous centroid (standard Lloyd degeneracy handling).
    */
  def trainPqCodebook(
      emb: DataFrame,
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 10): Array[Double] = {
    val dim = probeDim(emb)
    require(dim % m == 0, s"embedding width $dim must divide into $m subspaces")
    val sub = dim / m
    val sample: Array[Array[Double]] = emb
      .orderBy(col("vec_id")).limit(sampleN)
      .select(vec(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)
    val cb = Array.ofDim[Double](m * k * sub)
    for (mi <- 0 until m) {
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      val init = pts.map(_.toSeq).distinct.take(k).map(_.toArray)
      var cents = init ++ Array.tabulate(k - init.length, sub)((ci, d) =>
        pqWeight(mi, init.length + ci, d + 1))
      for (_ <- 0 until iters if pts.nonEmpty) {
        val sums = Array.ofDim[Double](k, sub)
        val counts = new Array[Long](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var ci = 0
          while (ci < k) {
            var acc = 0.0; var d = 0
            while (d < sub) { val df = p(d) - cents(ci)(d); acc += df * df; d += 1 }
            if (acc < bestD) { bestD = acc; best = ci }
            ci += 1
          }
          counts(best) += 1
          var d = 0
          while (d < sub) { sums(best)(d) += p(d); d += 1 }
        }
        cents = Array.tabulate(k)(ci =>
          if (counts(ci) == 0) cents(ci)
          else Array.tabulate(sub)(d => sums(ci)(d) / counts(ci)))
      }
      for (ci <- 0 until k; d <- 0 until sub)
        cb((mi * k + ci) * sub + d) = cents(ci)(d)
    }
    cb
  }

  /** Product-quantization encoding: the vector splits into `m` subspaces
    * of dim/m dimensions; each subvector is replaced by the id of its
    * nearest (L2) centroid from a `k`-entry per-subspace codebook —
    * dim × 8 bytes become m small codes (32× at 64-dim float → 8 codes),
    * THE standard way a 100 TB embedding corpus gets cheap enough to keep
    * hot (Jégou et al., TPAMI'11). Emits the code string ("c0:c1:…"),
    * plus the reconstruction error as quantization-quality telemetry.
    * `codebook`: flat trained centroids ([[trainPqCodebook]]); default is
    * the deterministic md5 family the DuckDB oracle replays.
    */
  def pqEncode(
      emb: DataFrame, m: Int = 8, k: Int = 16,
      codebook: Option[Array[Double]] = None): DataFrame =
    pqTable(emb, m, k, codebook).select(col("vec_id"),
      array_join(transform(col("codes"), _.cast("string")), ":").as("pq_code"),
      round(sqrt(aggregate(transform(col("dss"), ds => array_min(ds)),
        lit(0.0), (acc, x) => acc + x)), 4).as("recon_err"))

  /** PQ DECODE — codes back to the quantizer's reproduction values,
    * `cb[(mi·k + ci)·sub + d]` per dimension ([[resolvePqCodebook]]'s
    * flat layout): one slice of the literal codebook per subspace,
    * flattened. The exact inverse read shared by
    * [[VectorIndexStore.reconstruct]] (the drift re-found path's
    * corpus decode) and [[pqReconstruct]], so the two can never skew.
    */
  private[operators] def pqDecodeExpr(
      codes: Column, cb: Array[Double], k: Int, sub: Int): Column =
    flatten(transform(codes, (c, mi) =>
      slice(typedLit(cb.toSeq),
        (mi.cast("long") * (k * sub) + c * sub + 1).cast("int"), lit(sub))))

  /** Encode-then-DECODE over a corpus: `(vec_id, recon_milli)` — each
    * vector's quantizer reproduction value in exact integer MILLI-units
    * (":"-joined; the md5-family codebook entries are exact multiples
    * of 1e-3, so ×1000 round-trips to integers the DuckDB oracle
    * reproduces digit-for-digit — a decimal string of the double would
    * not be engine-portable). This is the decode the serving tier's
    * re-found path runs over postings ([[VectorIndexStore.reconstruct]])
    * surfaced as a first-class operator: what a stored code ACTUALLY
    * says the vector is — quantization audit, and the input shape for
    * codebook retraining. One map-side pass; with a trained codebook
    * the milli-units are the audit rounding, not exact.
    */
  def pqReconstruct(
      emb: DataFrame, m: Int = 8, k: Int = 16,
      codebook: Option[Array[Double]] = None): DataFrame = {
    val dim = probeDim(emb)
    val cb = resolvePqCodebook(dim, m, k, codebook)
    pqTable(emb, m, k, codebook).select(col("vec_id"),
      array_join(transform(pqDecodeExpr(col("codes"), cb, k, dim / m),
        x => round(x * 1000).cast("long").cast("string")), ":")
        .as("recon_milli"))
  }

  /** Approximate nearest neighbors over the PQ-compressed corpus by
    * asymmetric distance computation (ADC, Jégou et al.): the query keeps
    * full precision and its per-subspace distance matrix doubles as a
    * lookup table, so scoring a neighbor is m table probes + adds against
    * its m-byte code — the corpus's vectors are never touched. Queries
    * (with LUTs) broadcast; codes stream map-side into the map-capped
    * [[rankedAdist]] top-k. The exact-rank baseline is annTopK; this is
    * what replaces it when the corpus only exists in compressed form.
    */
  def pqSearch(
      emb: DataFrame,
      queryFilter: Column,
      kNN: Int = 10,
      m: Int = 8,
      k: Int = 16,
      codebook: Option[Array[Double]] = None): DataFrame = {
    val t = pqTable(emb, m, k, codebook)
    // The codes frame is the compressed index — in a deployment it is the
    // STORED artifact (encode once, search many). Materializing it here
    // (vec_id + m small ids per row) keeps the expensive codebook-distance
    // projection to one pass; the query side recomputes only its own rows
    // (the filter pushes below the projection).
    val corpus = t.select(col("vec_id"), col("codes")).localCheckpoint()
    val q = t.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("dss").as("qlut"))
    // per-pair scoring through the codegen'd ADC probe (same sequential
    // sum as the unrolled element_at fold, ~10× less per-pair overhead)
    val scored = broadcast(q).join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("adist", graft.functions.AdcDistance(col("qlut"), col("codes")))
    rankedAdist(scored, kNN)
  }

  /** Per-dimension [lo, hi] of the corpus — the scalar-quantizer's trained
    * "codebook": ONE bounded aggregate (dim rows), fetched driver-side at
    * plan time and baked in as literals (the pqTable/IVF codebook
    * discipline; min/max of floats is exact, so the bounds are
    * bit-identical in any engine and partitioning).
    */
  private def sqBounds(emb: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .orderBy("pos").collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Codes column under literal bounds: code_i = round(255·(v_i − lo_i) /
    * (hi_i − lo_i)); constant dimensions (hi = lo) code to 0. */
  private def sqCodes(v: Column, los: Seq[Double], his: Seq[Double]): Column = {
    val lo = array(los.map(lit(_)): _*)
    val hi = array(his.map(lit(_)): _*)
    transform(sequence(lit(1), size(v)), i => {
      val l = element_at(lo, i)
      val h = element_at(hi, i)
      when(h === l, lit(0)).otherwise(
        round((element_at(v, i) - l) * 255.0 / (h - l)).cast("int"))
    })
  }

  /** Reconstruction column: recon_i = lo_i + code_i·(hi_i − lo_i)/255 —
    * coded-to-0 constant dimensions reconstruct exactly. */
  private def sqRecon(codes: Column, los: Seq[Double], his: Seq[Double]): Column = {
    val lo = array(los.map(lit(_)): _*)
    val hi = array(his.map(lit(_)): _*)
    transform(sequence(lit(1), size(codes)), i => {
      val l = element_at(lo, i)
      val h = element_at(hi, i)
      l + (element_at(codes, i) * (h - l)) / 255.0
    })
  }

  /** Scalar (int8) quantization of the embedding corpus — the shape of
    * FAISS `IndexScalarQuantizer(QT_8bit)` and the simplest entry in this
    * file's compression family (4× over float32; [[embedPq]] is the 32×
    * sibling): per-dimension [lo, hi] trained in one bounded aggregate
    * ([[sqBounds]]), encode and reconstruct pure map-side under literal
    * bounds. Emits codes plus the per-vector squared reconstruction error
    * (sequential fold — bit-portable), the quality telemetry a quantized
    * deployment monitors.
    */
  def embedSq(emb: DataFrame): DataFrame = {
    val (los, his) = sqBounds(emb)
    emb
      .select(col("vec_id"),
        TextAnalysis.bindOnce(vec(col("embedding")), v =>
          TextAnalysis.bindOnce(sqCodes(v, los, his), codes =>
            TextAnalysis.bindOnce(sqRecon(codes, los, his), r =>
              struct(
                codes.as("codes"),
                round(aggregate(sequence(lit(1), size(v)), lit(0.0), (acc, i) =>
                  acc + (element_at(v, i) - element_at(r, i)) *
                    (element_at(v, i) - element_at(r, i))), 6)
                  .as("recon_err2"))))).as("s"))
      .select(col("vec_id"), col("s.codes").as("codes"),
        col("s.recon_err2").as("recon_err2"))
  }

  /** Asymmetric search over the SQ-compressed corpus (the SQ sibling of
    * [[pqSearch]]'s ADC): the stored index is int8 codes, queries keep
    * their exact vectors, and the per-pair distance is
    * |q|² + |r|² − 2·q·r with the reconstruction norm precomputed
    * map-side per corpus row — so each pair costs ONE codegen'd [[dot]]
    * probe over the reconstructed array, and the top-k is the shared
    * map-capped [[rankedAdist]] tail — no corpus-wide sort.
    */
  def sqSearch(emb: DataFrame, queryFilter: Column, kNN: Int = 10): DataFrame = {
    val (los, his) = sqBounds(emb)
    // codes is let-bound BEFORE sqRecon consumes it: recon indexes the
    // codes array once per dimension, and an unbound codes expression
    // would re-run the whole O(dim) encode per element access — the
    // O(dim²)-per-row blowup bindOnce exists to prevent (measured: 23 s →
    // sub-second for the corpus-side encode at sf0.1)
    val sq = emb.select(col("vec_id"),
        TextAnalysis.bindOnce(vec(col("embedding")), v =>
          TextAnalysis.bindOnce(sqCodes(v, los, his), codes =>
            TextAnalysis.bindOnce(sqRecon(codes, los, his), r =>
              struct(r.as("r"), dot(r, r).as("rn2"))))).as("s"))
      .select(col("vec_id"), col("s.r").as("r"), col("s.rn2").as("rn2"))
      .localCheckpoint() // the stored index: encode once, search many
    val q = emb.where(queryFilter)
      .select(col("vec_id").as("query_id"),
        TextAnalysis.bindOnce(vec(col("embedding")), v =>
          struct(v.as("qv"), dot(v, v).as("qn2"))).as("s"))
      .select(col("query_id"), col("s.qv").as("qv"), col("s.qn2").as("qn2"))
    val scored = broadcast(q).join(sq, col("vec_id") =!= col("query_id"))
      .withColumn("adist",
        col("qn2") + col("rn2") - lit(2.0) * dot(col("qv"), col("r")))
    rankedAdist(scored, kNN)
  }

  /** IVF-bucketed ANN (inverted-file index): every `centEvery`-th vector
    * acts as a centroid (the deterministic, engine-portable stand-in for a
    * k-means codebook — swapping in trained centroids changes nothing
    * downstream); each vector is assigned to its nearest centroid by
    * cosine; queries probe their `nprobe` nearest cells (the standard IVF
    * recall knob — the index side is never touched, only the query fans
    * out; a neighbor lives in exactly one cell, so no pair dedup needed).
    *
    * The 100 TB shape: the codebook is fixed-size — the sampled centroids
    * are capped at `maxCents` and fetched DRIVER-SIDE at plan time (a
    * codebook is small by construction; the fetch is one tiny job over the
    * pushed-down sampling filter), then baked into the plan as literal
    * arrays, the pqTable pattern. Assignment is one map-side argmax pass
    * over those literals — cosine to each centroid inside whole-stage
    * codegen, `array_position(css, array_max(css))` for the argmax (first
    * occurrence ⇒ ties break on the lower cell id, the codebook being
    * cent_id-ordered) — NO shuffle, NO per-vector window, NO join against
    * a corpus-sized centroid frame. The search join is an equi-join on
    * `cell` — shuffle O(rows), verification O(nprobe × cell size) per
    * query. Recall is probabilistic: neighbors in unprobed cells are
    * unseen (raise nprobe for higher recall).
    */
  /** Plan-time IVF codebook: every `centEvery`-th vector, capped at
    * `maxCents`, cent_id-ordered — (vec_id, vector, norm) triples. The
    * deterministic, engine-portable stand-in for a trained k-means
    * codebook (swap the sample for trained centroids and nothing
    * downstream moves). Collected from the SAME normalized frame every
    * row flows through, so the literal doubles are bit-identical to what
    * a join against that frame would have seen; the fetch is one tiny job
    * over the pushed-down sampling filter — a codebook is small by
    * construction.
    *
    * NOTE on the cap: the DuckDB oracles replay the sampling rule
    * (`vec_id % centEvery = 1`) WITHOUT the `maxCents` cap — they agree
    * as long as the corpus yields ≤ maxCents candidates (true at every
    * test SF; 256 × 40 = 10 240 vec_ids at the defaults). Beyond that
    * the cap is the intended production behavior (a codebook must not
    * grow with the corpus) and the oracle, not the engine, is the side
    * that stops modeling it.
    */
  private[operators] def sampleCentroids(
      e: DataFrame, centEvery: Int, maxCents: Int): Array[(Long, Array[Double], Double)] =
    e.where(col("vec_id") % centEvery === 1)
      .orderBy(col("vec_id")).limit(maxCents)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** Trained IVF codebook: full-dimension k-means (Lloyd) on a driver-side
    * sample of the NORMALIZED corpus, returned as the (cell_id, centroid)
    * pairs [[annIvf]]/[[semanticDedup]]/[[clusterSample]] accept — the
    * trained alternative to the deterministic every-Nth-vector sample,
    * feeding the IDENTICAL literal-codebook plan (swap the literals,
    * nothing downstream moves — the [[trainPqCodebook]] pattern at the
    * whole-vector level). Trained centroids sit at cluster means instead
    * of arbitrary corpus points, so cells are tighter and a query's
    * nearest neighbors land in its probe cells more often — measured
    * recall lift in SimilaritySpec `measured recall@10`.
    *
    * Deterministic end to end, same discipline as [[trainPqCodebook]]:
    * sample = the `sampleN` lowest vec_ids (per-partition top-N, not a
    * corpus sort), init = deterministic FARTHEST-POINT traversal (below),
    * empty clusters keep their previous centroid, exact driver-side Lloyd
    * arithmetic (sampleN × k × dim flops per pass). Cell ids are the
    * codebook indices 0..k-1 (synthetic — trained centroids correspond to
    * no corpus row).
    *
    * INIT (r20): first-k-distinct init seeded k in proportion to raw
    * SAMPLE ORDER — on a corpus of many small clusters beside a few big
    * ones (exactly the drift-refound regime: a large founding region
    * plus fixed-size shifted clusters), most of the k landed inside the
    * big clusters, plain Lloyd never splits its way back out, and the
    * uncovered clusters' recall stayed collapsed after a rebuild
    * (measured: recall-after-refound decayed from 0.78 at 16 clusters to
    * 0.16 at 192 under first-k init). The init is now k-means++ (Arthur
    * & Vassilvitskii '07) with the codebase's DETERMINISTIC-randomness
    * discipline: each step's uniform draw comes from the md5 family
    * (the `planeWeight` pattern), so the same sample always yields the
    * same seeds on any platform. D²-weighting seeds every still-
    * uncovered cluster (whose members each carry ~full inter-cluster
    * distance²) before any covered cluster gets a second seed, while
    * staying mass-aware enough not to chase lone outliers (the
    * farthest-point failure mode on real corpora). Cost is one
    * incremental min-distance array: k × sampleN × dim, the same as a
    * single Lloyd pass.
    */
  def trainIvfCodebook(
      emb: DataFrame,
      k: Int = 64,
      sampleN: Int = 10000,
      iters: Int = 10): Array[(Long, Array[Double])] = {
    require(k > 0, s"k must be positive: $k")
    val sample: Array[Array[Double]] = normalized(emb)
      .orderBy(col("vec_id")).limit(sampleN)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty) return Array.empty
    val dim = sample.head.length
    val n = sample.length
    // deterministic k-means++ init (md5-derived uniform draws; duplicate
    // points carry D² = 0 so kk naturally stops at the distinct count)
    def unitDraw(step: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ivfinit|$step".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(13)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 52).toDouble
    }
    val picked = scala.collection.mutable.ArrayBuffer(sample(0))
    val minD2 = Array.fill(n)(Double.MaxValue)
    var continue = true
    while (picked.length < k && continue) {
      val last = picked.last
      var total = 0.0
      var i = 0
      while (i < n) {
        var acc = 0.0; var d = 0
        while (d < dim) { val df = sample(i)(d) - last(d); acc += df * df; d += 1 }
        if (acc < minD2(i)) minD2(i) = acc
        total += minD2(i)
        i += 1
      }
      if (total == 0.0) continue = false // every sampled point is a seed
      else {
        val target = unitDraw(picked.length) * total
        var cum = 0.0; var idx = -1; var j = 0
        while (idx < 0 && j < n) {
          cum += minD2(j)
          if (cum > target) idx = j
          j += 1
        }
        if (idx < 0) {
          // float-edge fallback (cum never exceeded target): take the LAST
          // index with positive D² — sample(n-1) itself may be a duplicate
          // of an existing seed (minD2 == 0), and seeding two identical
          // centroids leaves Lloyd a permanently empty cell (r20 ADVICE)
          idx = n - 1
          while (idx > 0 && minD2(idx) == 0.0) idx -= 1
        }
        // r21 advice: if the walk-back landed on idx 0 with minD2(0) == 0
        // every sampled point duplicates an existing seed — stop seeding
        // instead of adding a duplicate centroid (total > 0 got us here
        // only through float rounding)
        if (minD2(idx) == 0.0) continue = false
        else picked += sample(idx)
      }
    }
    var cents = picked.toArray
    val kk = cents.length // fewer distinct sample points than k ⇒ fewer cells
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Long](kk)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kk) {
          var acc = 0.0; var d = 0
          while (d < dim) { val df = p(d) - cents(ci)(d); acc += df * df; d += 1 }
          if (acc < bestD) { bestD = acc; best = ci }
          ci += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += p(d); d += 1 }
      }
      cents = Array.tabulate(kk)(ci =>
        if (counts(ci) == 0) cents(ci)
        else Array.tabulate(dim)(d => sums(ci)(d) / counts(ci)))
    }
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
  }

  /** Codebook resolution shared by the IVF family: an explicit (trained)
    * codebook wins; otherwise the deterministic every-Nth-vector sample.
    * Norms are computed here so callers hand over bare (id, vector) pairs.
    */
  private[operators] def resolveCentroids(
      e: DataFrame, centEvery: Int, maxCents: Int,
      codebook: Option[Array[(Long, Array[Double])]]): Array[(Long, Array[Double], Double)] =
    codebook match {
      case Some(cb) =>
        cb.map { case (id, v) =>
          val n = math.sqrt(v.map(x => x * x).sum)
          require(n > 0, s"zero-norm codebook centroid $id")
          (id, v, n)
        }
      case None => sampleCentroids(e, centEvery, maxCents)
    }

  /** Cosine to every codebook centroid — cell id = array index (cent_id
    * order). Map-side, inside whole-stage codegen; per-row cost is
    * nc × dim fused multiply-adds. r20: ONE codegen'd expression
    * ([[graft.functions.CentCosines]] — the codebook rides as a flat
    * literal MATRIX, constant generated-code size at any nc) replacing
    * the nc-wide `array(dot(v, lit)/…)` unroll, whose generated method
    * outgrew Janino at nc = 256 × dim 64 and silently fell back to
    * interpreted execution (the PqDistances failure class). Arithmetic
    * is bit-identical — same sequential dot loop, same `(nrm · cn)`
    * divide — so every persisted cell id and oracle hash is unchanged
    * (CodegenGuardSpec cross-checks compiled vs interpreted bit-for-bit).
    */
  private[operators] def centCos(
      cents: Array[(Long, Array[Double], Double)])(v: Column, nrm: Column): Column =
    graft.functions.CentCosines(v, nrm,
      typedLit(cents.flatMap(_._2).toSeq), typedLit(cents.map(_._3).toSeq))

  /** `v − centroid(cell)` as one zip_with over the literal centroid
    * matrix — the residual the full IVFADC form quantizes (Jégou et al.
    * §IV-A). RETAINED AS THE PARITY WITNESS for
    * [[graft.functions.PqResidualDistances]], which folds this
    * subtraction into the codegen'd distance loop (zip_with is a
    * higher-order function Spark evaluates interpreted, allocating a
    * boxed residual array per row — the encode-pass tax the fused
    * expression removes); bit-equality of the two forms is
    * spec-asserted (FunctionsSpec).
    */
  private[operators] def residualExpr(
      cents: Array[(Long, Array[Double], Double)])(v: Column, cell: Column): Column =
    zip_with(v,
      element_at(typedLit(cents.map(_._2.toSeq).toSeq), cell + 1),
      (a, b) => a - b)

  /** Semantic deduplication (SemDeDup, Abbas et al. '23): cluster the
    * embedding corpus, then near-dup only WITHIN clusters — the way
    * embedding dedup actually runs at 100 TB, because the cluster
    * assignment is a map-side pass and the quadratic verify is confined
    * to one cell at a time. Cells are the IVF assignment (literal
    * codebook, argmax inside codegen — see annIvf); within a cell, every
    * pair with cosine ≥ `threshold` marks the higher vec_id a duplicate
    * of the lowest qualifying earlier one (`dup_of`), keeping the min-id
    * representative per near-dup neighborhood. Pairs split across cells
    * are unseen — the SemDeDup trade: recall follows cluster granularity
    * (`centEvery`/`maxCents`), cost stays Σ cell² instead of n².
    *
    * The assigned frame (id, vector, norm, cell) is localCheckpointed:
    * it feeds both sides of the within-cell self-join plus the final
    * output, and the nc × dim assignment pass should run once, not three
    * times.
    */
  /** Nearest-centroid cell assignment over a literal codebook: (vec_id,
    * v, nrm, cell_id), one map-side argmax pass. cell_id is the
    * CENTROID's vec_id (not the codebook index): stable under codebook
    * growth and directly joinable against the corpus.
    */
  private def assignCells(
      e: DataFrame, cents: Array[(Long, Array[Double], Double)]): DataFrame = {
    val centIds = cents.map(_._1).toSeq
    e.select(col("vec_id"), col("v"), col("nrm"),
      bindOnce(centCos(cents)(col("v"), col("nrm")), css =>
        element_at(typedLit(centIds),
          array_position(css, array_max(css)).cast("int"))).as("cell_id"))
  }

  /** Cluster-balanced subsampling: keep at most `perCell` vectors per IVF
    * cell, chosen by a deterministic salted-hash order within the cell —
    * the diversity-sampling step that pairs with [[semanticDedup]]
    * (SemDeDup prunes redundancy; this caps per-mode mass so dominant
    * clusters can't swamp the training mix, cf. cluster-balanced data
    * curation). Map-side assignment + ONE shuffle on cell_id; each top-N
    * window partition is one cell, never the corpus. The hash order makes
    * the kept set reproducible across engines, runs and partitionings,
    * and unbiased within a cell (the hash is independent of every vector
    * attribute).
    */
  def clusterSample(
      emb: DataFrame,
      perCell: Int = 8,
      centEvery: Int = 40,
      maxCents: Int = 256,
      salt: String = "cs",
      codebook: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normalized(emb)
    val cents = resolveCentroids(e, centEvery, maxCents, codebook)
    if (cents.isEmpty)
      return e.select(col("vec_id"), lit(-1L).as("cell_id"), lit(0L).as("pick"))
        .where(lit(false))
    val w = Window.partitionBy(col("cell_id")).orderBy(
      TextAnalysis.hexHash(concat(lit(s"$salt|"), col("vec_id").cast("string"))),
      col("vec_id"))
    assignCells(e, cents)
      .withColumn("pick", row_number().over(w).cast("long"))
      .where(col("pick") <= perCell)
      .select(col("vec_id"), col("cell_id"), col("pick"))
  }

  def semanticDedup(
      emb: DataFrame,
      threshold: Double = 0.4,
      centEvery: Int = 40,
      maxCents: Int = 256,
      codebook: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val e = normalized(emb)
    val cents = resolveCentroids(e, centEvery, maxCents, codebook)
    if (cents.isEmpty)
      return e.select(col("vec_id"), lit(-1L).as("cell_id"),
        lit(false).as("is_dup"), lit(null).cast("long").as("dup_of")).where(lit(false))
    val assigned = assignCells(e, cents).localCheckpoint()
    val x = assigned.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("cell_id").as("cell_a"))
    val y = assigned.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("cell_id").as("cell_b"))
    val dups = x.join(y, col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    assigned.join(dups, col("vec_id") === col("id_b"), "left")
      .select(col("vec_id"), col("cell_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** Query probe cells: the nprobe best cells by (cos desc, cell asc),
    * expressed as a count-based rank over the `css` column (no sort — the
    * same engine-portable trick as lshProbes). O(nc²) per QUERY row only.
    */
  private[operators] def probeCellsExpr(nc: Int, nprobe: Int): Column =
    filter(sequence(lit(0), lit(nc - 1)), c =>
      size(filter(sequence(lit(0), lit(nc - 1)), c2 =>
        element_at(col("css"), c2 + 1) > element_at(col("css"), c + 1) ||
          (element_at(col("css"), c2 + 1) === element_at(col("css"), c + 1) && c2 < c))) <
        nprobe)

  def annIvf(
      emb: DataFrame,
      queryFilter: Column,
      k: Int = 10,
      centEvery: Int = 40,
      nprobe: Int = 1,
      maxCents: Int = 256,
      codebook: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val e = normalized(emb)
    val cents = resolveCentroids(e, centEvery, maxCents, codebook)
    if (cents.isEmpty)
      // empty corpus (or nothing matched the sampling rule): empty result
      // with the contract schema, no throw
      return e.select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0L).as("rank"), lit(0.0).as("cosine")).where(lit(false))
    val nc = cents.length
    val withCss = e.select(col("vec_id"), col("v"), col("nrm"),
      centCos(cents)(col("v"), col("nrm")).as("css"))
    val assigned = withCss.select(col("vec_id"), col("v"), col("nrm"),
      (array_position(col("css"), array_max(col("css"))) - 1).cast("int").as("cell"))
    val probeCells = probeCellsExpr(nc, nprobe)
    // queryFilter is on vec_id, so it pushes below the css projection: the
    // query side recomputes css for its own rows only.
    val q = withCss.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("vq"), col("nrm").as("nq"),
        explode(probeCells).as("qcell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("vq"), col("v")) / (col("nq") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cosine"))
  }

  /** IVF-PQ composed search (IVFADC, Jégou et al. TPAMI'11 — the FAISS
    * `IndexIVFPQ` shape): the corpus index is (cell, PQ codes) — vectors
    * are dropped after encoding — and a query probes its `nprobe` nearest
    * IVF cells, then ADC-scores ONLY the PQ codes inside those cells.
    * Memory is codes not vectors (m bytes/row at the defaults vs dim × 4),
    * compute is probed cells not corpus.
    *
    * The IVFADC kernel ([[ivfPqEncode]] + [[adcTopK]]) over an index built
    * IN-PLAN and localCheckpointed (in a deployment it is the STORED index:
    * encode once, search many). [[VectorIndexStore.search]] runs the same
    * kernel; the two differ only in self-exclusion (queries here are corpus
    * rows, so a query never scores itself) and in where the index comes
    * from. Recall is doubly probabilistic: neighbors in unprobed cells are
    * unseen (raise `nprobe`), and ADC ranks by quantized distance (train
    * the codebooks — [[trainIvfCodebook]], [[trainPqCodebook]] — or raise
    * m/k); `residual` selects the full IVFADC form ([[ivfPqEncode]]).
    */
  def ivfPqSearch(
      emb: DataFrame,
      queryFilter: Column,
      kNN: Int = 10,
      m: Int = 8,
      k: Int = 16,
      centEvery: Int = 40,
      nprobe: Int = 1,
      maxCents: Int = 256,
      ivfCodebook: Option[Array[(Long, Array[Double])]] = None,
      pqCodebook: Option[Array[Double]] = None,
      residual: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val e = normalized(emb)
    val cents = resolveCentroids(e, centEvery, maxCents, ivfCodebook)
    if (cents.isEmpty)
      // empty corpus: empty result with the contract schema, no throw —
      // and no PQ-codebook validation against the probe's placeholder dim
      return e.select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0L).as("rank"), lit(0.0).as("approx_dist2")).where(lit(false))
    val pcb = resolvePqCodebook(probeDim(emb), m, k, pqCodebook)
    val index = ivfPqEncode(e, cents, pcb, m, k, residual)
      .select(col("vec_id"), col("cell"), col("codes"))
      .localCheckpoint()
    // queryFilter is on vec_id, so it pushes below the query-side
    // projections: queries recompute only their own rows
    adcTopK(index, e.where(queryFilter), cents, pcb, m, k, residual,
      nprobe, kNN, excludeSelf = true)
  }

  /** The IVFADC encode of [[ivfPqSearch]] and of [[VectorIndexStore]]'s
    * save/append: one map-side pass under literal codebooks giving the
    * posting rows (vec_id, cell, codes, cdist) of a [[normalized]] frame.
    * `cell` is the argmax centroid cosine, `codes` the [[argminCodes]] of
    * the PQ distance matrix — of `v`, or with `residual` of
    * `v − centroid(cell)` (Jégou et al. §IV-A: residuals have smaller
    * variance, so the same codebook quantizes them tighter).
    * `cdist = 1 − cos(v, centroid(cell))` feeds the store's staleness
    * telemetry; every search scan prunes it.
    */
  private[operators] def ivfPqEncode(
      e: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      cb: Array[Double], m: Int, k: Int, residual: Boolean): DataFrame =
    e.select(col("vec_id"), col("v"), centCos(cents)(col("v"), col("nrm")).as("css"))
      .select(col("vec_id"), col("v"),
        (array_position(col("css"), array_max(col("css"))) - 1).cast("int").as("cell"),
        (lit(1.0) - array_max(col("css"))).cast("float").as("cdist"))
      .select(col("vec_id"), col("cell"),
        argminCodes(
          if (residual)
            graft.functions.PqResidualDistances(col("v"), col("cell"), cents.map(_._2), cb, m, k)
          else graft.functions.PqDistances(col("v"), typedLit(cb.toSeq), m, k)).as("codes"),
        col("cdist"))

  /** The IVFADC query: each row of `queries` (a [[normalized]] frame)
    * probes its `nprobe` nearest cells and ADC-scores only the `postings`
    * (vec_id, cell, codes) inside them, ranked by [[rankedAdist]]. Queries
    * broadcast with their lookup tables and equi-join on the probed cell;
    * a neighbor lives in exactly one cell and probe cells are distinct, so
    * no pair dedup is needed. `excludeSelf` drops the query's own row
    * ([[ivfPqSearch]]'s queries are corpus rows, [[VectorIndexStore]]'s an
    * external frame). A raw-code LUT is cell-independent, so it is
    * computed once per query BELOW the probe-cell fan-out; a residual LUT
    * differs per probed cell (the query's residual against THAT cell), so
    * it sits above the fan-out by necessity.
    */
  private[operators] def adcTopK(
      postings: DataFrame, queries: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      cb: Array[Double], m: Int, k: Int, residual: Boolean,
      nprobe: Int, kNN: Int, excludeSelf: Boolean): DataFrame = {
    val withCss = queries.select(col("vec_id"), col("v"),
      centCos(cents)(col("v"), col("nrm")).as("css"))
    // explode_OUTER, deliberately: probe sets are never empty, so the two
    // forms are row-identical — but exploding a non-outer ATTRIBUTE makes
    // InferFiltersFromGenerate add `size(qcells) > 0` below the Generate,
    // and pushdown then substitutes the alias chain: the O(nc²) probe-cells
    // filter re-expands the whole nc-dotproduct centroid array inside its
    // inner lambda, evaluated interpreted per scan row (measured: 123 s vs
    // 1.2 s at sf0.1). The rule only matches outer = false; outer skips the
    // inference. PlanAuditSpec pins it for both LUT placements.
    def fanOut(cells: Column): Column = explode_outer(cells).as("qcell")
    val cells = probeCellsExpr(cents.length, nprobe)
    val q =
      if (residual)
        withCss.select(col("vec_id").as("query_id"), col("v").as("vq"), fanOut(cells))
          .select(col("query_id"), col("qcell"),
            graft.functions.PqResidualDistances(
              col("vq"), col("qcell"), cents.map(_._2), cb, m, k).as("qlut"))
      else
        withCss.select(col("vec_id").as("query_id"),
            graft.functions.PqDistances(col("v"), typedLit(cb.toSeq), m, k).as("qlut"),
            cells.as("qcells"))
          .select(col("query_id"), col("qlut"), fanOut(col("qcells")))
    val onCell = col("cell") === col("qcell")
    val scored = postings.join(broadcast(q),
        if (excludeSelf) onCell && col("vec_id") =!= col("query_id") else onCell)
      .withColumn("adist", graft.functions.AdcDistance(col("qlut"), col("codes")))
    rankedAdist(scored, kNN)
  }

  /** Hashed bag-of-words document embedding (feature hashing — the
    * "hashing trick", Weinberger et al. ICML'09): every token hashes to a
    * dimension bucket `h mod dim` with a deterministic ±1 sign (the sign
    * hash makes collisions cancel in expectation, keeping the inner
    * product unbiased), and a document's vector is the per-bucket signed
    * count. A model-free text embedding computed entirely in-plan — the
    * bridge from the `documents` table to every vector operator here:
    * compose with [[knnGraph]] / [[embedCosineDup]] / [[annIvf]] for
    * semantic near-dup and clustering over raw text with zero external
    * model. (Cosine over these vectors IS bag-of-words cosine up to
    * hash collisions.)
    *
    * Plan: token explode → two doc-keyed hash aggregations (bucket sums,
    * then the map_from_entries gather — both map-side combined, rows
    * bounded by docs × dim, dim a PARAMETER). The dense vector
    * materializes positionally from the bucket map, so ordering never
    * depends on aggregation order. Exact integer sums; the shared
    * md5-derived hash (TextAnalysis.hexHash) makes the embedding
    * bit-identical in DuckDB. All-zero vectors (token signs fully
    * cancelled) are dropped — they have no direction and would
    * null-divide in every cosine.
    */
  def docEmbed(docs: DataFrame, dim: Int = 16): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    val h = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextAnalysis.hexHash(col("tok")).as("h"))
      // bucket and sign from h mod 2·dim: bucket b with sign +1 iff the
      // residue lands in [dim, 2·dim) — exact long arithmetic, no
      // precision-losing double division anywhere
      .select(col("doc_id"), (col("h") % dim).cast("int").as("bucket"),
        when(col("h") % (2L * dim) >= dim, lit(1L)).otherwise(lit(-1L)).as("sign"))
    h.groupBy(col("doc_id"), col("bucket")).agg(sum(col("sign")).as("s"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("s")))).as("m"))
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("double"))
          .as("embedding"))
      .where(exists(col("embedding"), v => v =!= 0.0))
  }

  /** Packed-id chunk embeddings — the shared front half of [[chunkKnn]]
    * and the chunk serving index
    * ([[graft.operators.VectorIndexStore]] composition): fixed-window
    * chunking (map-side explode, shuffle-free) → [[docEmbed]] over the
    * chunks, with chunk identity packed as
    * `doc_id · maxChunksPerDoc + chunk_id` into the `vec_id` every
    * vector operator consumes. A chunk_id at or past the packing bound
    * raises in-plan (`raise_error`, map-side, free when clean) instead
    * of silently aliasing another document — at the default
    * window/overlap (200/40) the default bound is only reached by a
    * single document of ~160 MB of text. Unpack provenance by exact
    * integer div/mod.
    */
  def chunkEmbed(
      docs: DataFrame,
      window: Int = 200,
      overlap: Int = 40,
      dim: Int = 16,
      maxChunksPerDoc: Long = 1000000L): DataFrame = {
    require(maxChunksPerDoc > 0, s"maxChunksPerDoc must be positive")
    val m = maxChunksPerDoc
    val chunks = Chunk.docChunk(docs, window, overlap)
      .select(
        (col("doc_id") * m + when(col("chunk_id") >= m,
          raise_error(concat(lit(s"chunk_id overflows maxChunksPerDoc=$m "),
            lit("for doc_id "), col("doc_id").cast("string"))))
          .otherwise(col("chunk_id"))).as("doc_id"),
        col("chunk_text").as("text"))
    docEmbed(chunks, dim)
  }

  /** The RAG-indexing capstone, composed as ONE declarative plan:
    * [[chunkEmbed]] (chunk explode + packed-id embed) → [[knnGraph]]
    * over the chunk embeddings, with every edge endpoint mapped back to
    * its `(doc_id, chunk_id)` provenance — the index a retrieval
    * pipeline actually serves (passage-level neighbors, not
    * document-level; the PERSISTED serving sibling is
    * `chunkEmbed` ∘ [[graft.operators.VectorIndexStore]]).
    *
    * Scale shape: chunking adds NO shuffle; docEmbed's two bounded
    * aggregations and knnGraph's banded LSH joins dominate exactly as in
    * [[knnGraph]] — pass `corpusHint` ≈ the CHUNK count (not the doc
    * count) at corpus scale; when absent it is measured with one bounded
    * count over the embedded chunks (the oracle derives the same count).
    */
  def chunkKnn(
      docs: DataFrame,
      window: Int = 200,
      overlap: Int = 40,
      dim: Int = 16,
      k: Int = 10,
      bands: Int = 2,
      center: Boolean = true,
      corpusHint: Option[Long] = None,
      maxChunksPerDoc: Long = 1000000L,
      bucketCap: Option[Int] = None): DataFrame = {
    val m = maxChunksPerDoc
    // Un-hinted path: the count that derives the plane budget must not
    // re-run the chunk-explode + embed subtree a second time when
    // knnGraph materializes its input — localCheckpoint the embedded
    // frame once and both the count and the graph read the materialized
    // blocks. (With a hint there is nothing to count, and knnGraph's own
    // internal checkpoint makes a second one here pure overhead.)
    val embedded = chunkEmbed(docs, window, overlap, dim, m)
    val (emb, hint, premat) = corpusHint match {
      case Some(h) => (embedded, h, false)
      case None =>
        val cp = embedded.localCheckpoint()
        (cp, cp.count(), true)
    }
    // premat: the un-hinted path already materialized the embedded frame
    // for its count — knnGraph then skips its OWN checkpoint (r21: the
    // second materialization re-wrote the same 15k-chunk blocks for a
    // plain normalize map the cached blocks replay for free)
    knnGraph(emb, k, bands, center = center, corpusHint = Some(hint),
        bucketCap = bucketCap, inputMaterialized = premat)
      .select(
        expr(s"CAST(query_id DIV $m AS BIGINT)").as("doc_id"),
        (col("query_id") % m).as("chunk_id"),
        expr(s"CAST(neighbor_id DIV $m AS BIGINT)").as("n_doc_id"),
        (col("neighbor_id") % m).as("n_chunk_id"),
        col("rank"), col("cosine"))
  }

  /** All-pairs k-nearest-neighbor GRAPH over the embedding corpus — every
    * vector is simultaneously query and candidate; output is the directed
    * edge list `(query_id, neighbor_id, rank, cosine)`, the substrate for
    * graph-based curation (SemDeDup-style cluster pruning, density/outlier
    * scoring, connected-component near-dup groups over embedding space —
    * feed the edges to [[graft.operators.Dedup.dedupGroups]]).
    *
    * Default plan is the corpus-scale one: banded sign-projection LSH (the
    * [[embedCosineDup]] discipline — `bands` independent plane families of
    * `planes` bits each) turns the n² pair space into `bands` equi-SELF-
    * joins on (band, bucket): shuffle volume rows × bands, verify work
    * Σ bucket² per band, never rows². A pair colliding in several bands is
    * scored once — and before the pair-key dedup groupBy, a per-(query,
    * band) top-k (exact — proof at the call site) collapses its exchange
    * input from the full candidate-pair volume to n × bands × k skinny
    * rows, so no corpus-volume pair set ever crosses an exchange.
    * Per-query top-k is then the map-capped single window (the
    * [[annTopK]] discipline): the Partial WindowGroupLimit bounds every
    * partition's contribution at k before the global rank's exchange.
    * `bucketCap` (off by default) additionally bounds every (band,
    * bucket) to a deterministic salted-hash sample of `cap` vectors —
    * the EXPLICIT recall dial (measured in the spec like the multi-probe
    * knobs) for pair volume past the decade where hinted planes alone
    * strain executor memory; verify work is then ≤ buckets × cap² per
    * band no matter how the corpus is distributed. Whether a corpus
    * NEEDS the dial is measurable before paying the graph:
    * [[bucketHistogram]] reports per-band bucket widths and flags hot
    * bands. Edge recall per pair at
    * cosine θ is 1 − (1 − p₁^planes)^bands with p₁ = 1 − arccos(θ)/π —
    * bands buy recall at linear shuffle cost, the standard LSH trade.
    *
    * `exact = true` is the n²-pair broadcast baseline (every true edge,
    * any corpus the build side fits in memory) — the verification/oracle
    * plan, not the 100 TB path. `corpusHint` derives `planes` via
    * [[planesFor]] — required at corpus scale (fixed planes ⇒ O(n)-wide
    * buckets ⇒ quadratic verify; see planesFor).
    *
    * `center = true` MEAN-CENTERS the vectors before the sign
    * projections (bucketing only — cosines still score the raw
    * vectors). planesFor handles corpus SIZE; centering handles corpus
    * DISTRIBUTION: when every vector shares a dominant direction (bag-
    * of-words embeddings, normalized text features), the mean component
    * drowns the projections and one bucket swallows the corpus — the
    * measured case on docEmbed vectors at sf0.1 was 3000 of 5000 docs
    * in one of 16 buckets, i.e. the verify stage quietly back at n².
    * Subtracting the corpus mean re-balances the signs (standard SRP
    * practice for non-centered data). The mean is one bounded aggregate
    * — per-dimension DECIMAL sums, so it is exact and partition-order
    * independent — riding as a 1-row broadcast.
    */
  /** One row per (vector, band) with that band's LSH bucket key — the
    * shared banding stage of [[knnGraph]] and [[bucketHistogram]].
    * Bucketing reads raw vectors, or mean-centered ones when the corpus
    * distribution would otherwise skew the sign buckets (`center` —
    * the mean is one bounded exact DECIMAL aggregate riding as a 1-row
    * broadcast). The explode is the rows × bands shuffle input.
    */
  private def bandedFrame(
      e: DataFrame, dim: Int, bands: Int, effPlanes: Int,
      center: Boolean): DataFrame = {
    val eb =
      if (!center) e.withColumn("vb", col("v"))
      else {
        // localCheckpoint the 1-row mean: the banded frame is referenced
        // by BOTH sides of knnGraph's band self-join, so an unmaterialized
        // mean subtree re-aggregates the whole (already-checkpointed)
        // corpus once per side — two full passes for one number (r21
        // doc_knn plan: the HashAggregate→Exchange→HashAggregate mean
        // subtree appears twice). One bounded job cuts it to one pass
        // (guide §2.4), and both broadcast builds read the cached row.
        val mu = e.agg(array((0 until dim).map(i =>
          (sum(element_at(col("v"), i + 1).cast("decimal(28,10)"))
            .cast("double") / count(lit(1))).as(s"m$i")): _*).as("mu"))
          .localCheckpoint()
        e.crossJoin(broadcast(mu))
          .withColumn("vb", zip_with(col("v"), col("mu"), (a, b) => a - b))
          .drop("mu")
      }
    eb.select(col("vec_id"), col("v"), col("nrm"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            lshBucket(col("vb"), effPlanes, dim, planeOffset = b * effPlanes)
              .as("bucket"))): _*)).as("bb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Per-band LSH bucket-width telemetry for [[knnGraph]]'s candidate
    * stage — the signal a deployment reads to decide when to reach for
    * the `bucketCap` recall dial (or `center`) BEFORE paying a skewed
    * verify stage. The 100× chunk_knn wall was proven to be bucket skew
    * only by a manual decomposition run; this makes it first-class.
    *
    * One bounded pass: the banding explode (rows × bands, the same
    * stage the graph itself pays) → map-side-combined width count
    * (≤ bands × 2^planes rows) → one ≤ bands-row summary. Per band:
    * bucket count, max / p99 / mean width, and the uniform-expectation
    * width n/2^planes. `hot` flags max_width > hotFactor × expected —
    * keyed to the UNIFORM expectation, not the observed mean, because
    * the worst skew (one bucket swallowing the corpus — the measured
    * docEmbed mode at sf0.1: 3000 of 5000 docs in one of 16 buckets)
    * leaves only near-empty siblings, and a mean over observed buckets
    * would then read as "balanced". A hot band means the verify stage
    * runs ~max_width²/2 comparisons where expected²/2 was planned —
    * reach for `center` (distribution skew) or `bucketCap` (scale).
    */
  def bucketHistogram(
      emb: DataFrame,
      bands: Int = 2,
      planes: Int = 4,
      center: Boolean = false,
      corpusHint: Option[Long] = None,
      hotFactor: Double = 8.0): DataFrame = {
    require(hotFactor > 0, s"hotFactor must be > 0: $hotFactor")
    val effPlanes = corpusHint.map(planesFor(_)).getOrElse(planes)
    val e = normalized(emb)
    val dim = probeDim(emb)
    bandedFrame(e, dim, bands, effPlanes, center)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("width"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).cast("long").as("buckets"),
        sum(col("width")).cast("long").as("vectors"),
        max(col("width")).cast("long").as("max_width"),
        round(expr("percentile(width, 0.99)"), 4).as("p99_width"),
        round(sum(col("width").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 4).as("mean_width"))
      .withColumn("expected_width",
        round(col("vectors").cast("double") / math.pow(2.0, effPlanes), 4))
      .withColumn("hot",
        col("max_width").cast("double") >
          lit(hotFactor) * greatest(col("expected_width"), lit(1.0)))
      .select(col("band"), col("buckets"), col("vectors"), col("max_width"),
        col("p99_width"), col("mean_width"), col("expected_width"), col("hot"))
  }

  def knnGraph(
      emb: DataFrame,
      k: Int = 10,
      bands: Int = 2,
      planes: Int = 4,
      exact: Boolean = false,
      center: Boolean = false,
      corpusHint: Option[Long] = None,
      bucketCap: Option[Int] = None,
      inputMaterialized: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketCap.forall(_ >= 1), s"bucketCap must be >= 1: $bucketCap")
    require(!(exact && bucketCap.isDefined),
      "bucketCap bounds the banded LSH buckets; exact = true computes all " +
        "pairs and would silently ignore it — drop one of the two")
    val effPlanes = corpusHint.map(planesFor(_)).getOrElse(planes)
    // The normalized frame is referenced up to three times (both sides of
    // the band self-join, plus the centering mean) — and `emb` is often a
    // COMPUTED frame (docEmbed: two aggregation passes), so without a
    // lineage cut every reference re-runs that whole subtree. Materialize
    // once — the minhashPairs/embedCosineDup persist discipline (measured
    // on doc_knn at sf0.1: 12.5 s → the subtree no longer dominates).
    // `inputMaterialized` callers (chunkKnn's un-hinted path) already hold
    // checkpointed blocks; re-materializing would re-write the same rows
    // for a normalize map the cached blocks replay for free (r21).
    val e =
      if (inputMaterialized) normalized(emb) else normalized(emb).localCheckpoint()
    val cand =
      if (exact) {
        val q = e.select(col("vec_id").as("query_id"), col("v").as("vq"),
          col("nrm").as("nq"))
        q.join(broadcast(e), col("vec_id") =!= col("query_id"))
          .withColumn("cos", dot(col("vq"), col("v")) / (col("nq") * col("nrm")))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
      } else {
        val dim = probeDim(emb)
        val banded = bandedFrame(e, dim, bands, effPlanes, center)
        // Optional per-(band, bucket) candidate cap — the EXPLICIT recall
        // trade for deployments that need the all-pairs graph past the
        // decade where even linear pair volume strains executor memory
        // (the hinted planes keep expected bucket width ~64, but a
        // pathological bucket — or the sheer pair constant at 10⁶⁺
        // vectors — can still dominate; the multi-probe knob philosophy,
        // inverted). The cap keeps a deterministic salted-hash-ordered
        // sample of each bucket — unbiased w.r.t. vector content, stable
        // across runs/partitionings — and bounds the verify stage at
        // buckets × cap² per band. Capped vectors still QUERY (they keep
        // their own bucket row on the query side only if kept — a dropped
        // vector loses both roles in that band, the standard LSH-sample
        // trade); recall loss is measured in the spec alongside the
        // multi-probe knobs, not guessed. Default None = exact banded
        // semantics, the oracle-checked path.
        val bandedEff = bucketCap.fold(banded) { cap =>
          val wc = Window.partitionBy(col("band"), col("bucket"))
            .orderBy(pmod(xxhash64(col("vec_id"), lit("bucketcap")),
              lit(1000000007L)), col("vec_id"))
          banded.withColumn("crank", row_number().over(wc))
            .where(col("crank") <= cap).drop("crank")
        }
        val q = bandedEff.select(col("vec_id").as("query_id"), col("v").as("vq"),
          col("nrm").as("nq"), col("band").as("qband"), col("bucket").as("qbucket"))
        // Project the scored pair down to (query, neighbor, band, cos)
        // IMMEDIATELY — the vectors exist only inside the join stage's
        // codegen; nothing vector-width crosses an exchange after this.
        val pairs = bandedEff.join(q,
            col("band") === col("qband") && col("bucket") === col("qbucket") &&
              col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("band"),
            (dot(col("vq"), col("v")) / (col("nq") * col("nrm"))).as("cos"))
        // Per-(query, band) top-k BELOW the pair-dedup exchange. This is
        // NOT the removed redundant two-phase pattern (whose phase 1
        // duplicated the final window's own Partial limit): the final
        // window's native WindowGroupLimit cannot reach below the dedup
        // groupBy, which otherwise shuffles the FULL candidate-pair
        // volume — the 48 GiB spill regime the pair-heavy queries hit in
        // their last measured scale decade. A band's pairs all live in
        // that band's (band, bucket) partition, so the Partial limit
        // here collapses the exchange input to exactly n × bands × k
        // skinny rows. EXACT, not a recall trade: a pair in the true
        // union top-k is beaten by < k candidates overall, hence by < k
        // within any band that generated it (every within-band
        // competitor is also in the union), so it survives its band's
        // (cos desc, neighbor_id) top-k — the union of per-band top-k
        // lists is a superset of the global top-k.
        val wb = Window.partitionBy(col("query_id"), col("band"))
          .orderBy(col("cos").desc, col("neighbor_id"))
        pairs.withColumn("brank", row_number().over(wb))
          .where(col("brank") <= k)
          // ONE exchange for the rest of the tail (r22, guide §2.4): the
          // frame here is already collapsed to ≤ n × bands × k rows, and
          // hash-partitioning it by query_id satisfies BOTH the pair-
          // dedup aggregate's (query_id, neighbor_id) clustering and the
          // final window's (query_id) clustering — without it each
          // planned its own exchange (3 post-join shuffles of the same
          // skinny rows; now 2 including the window-limit exchange
          // above). Row set unchanged; AQE may still coalesce.
          .repartition(col("query_id"))
          // cross-band pair dedup: cos is identical wherever the pair
          // collided, so max is exact and order-independent
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(max(col("cos")).as("cos"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 4).as("cosine"))
  }

  /** Per-vector neighborhood DENSITY — the embedding-space data-pruning
    * signal of Sorscher et al. '22 (arXiv:2206.14486, prototype-distance
    * pruning) and the SemDeDup-adjacent redundancy score: a vector's
    * mean cosine to its k nearest neighbors. The dense core is the
    * redundant mass a diversity-pruning pass cuts; the sparse tail is
    * the outlier set a quality-pruning pass cuts — one score serves
    * both ends of the curation knife.
    *
    * Composes [[knnGraph]] (all scale knobs pass through — at corpus
    * scale pass `corpusHint`) with ONE map-side-combined groupBy over
    * the ≤ n·k edge list. The mean is computed over the already-rounded
    * edge cosines in DECIMAL and divided once, so density is
    * partition-order independent and the oracle replays the exact
    * arithmetic. Vectors missed by every band (no edges) are absent —
    * at LSH recall they are themselves extreme-outlier candidates, and
    * the exact baseline (`exact = true`) keeps every vector.
    */
  def embedDensity(
      emb: DataFrame,
      k: Int = 10,
      bands: Int = 2,
      planes: Int = 4,
      exact: Boolean = false,
      center: Boolean = false,
      corpusHint: Option[Long] = None): DataFrame =
    knnGraph(emb, k, bands, planes, exact, center, corpusHint)
      .groupBy(col("query_id").as("vec_id"))
      .agg(
        count(lit(1)).cast("long").as("k_edges"),
        round(sum(col("cosine").cast("decimal(14,4)")).cast("double") /
          count(lit(1)), 4).as("density"))

  /** The pruning ACT on [[embedDensity]]'s score — both ends of the
    * Sorscher knife in one pass: drop the sparsest `dropSparsestPermille`
    * ‰ (outliers) and the densest `dropDensestPermille` ‰ (redundant
    * core), keep the middle band. Thresholds are EXACT integer-rank
    * permille cuts over the density histogram ([[Temporal
    * .valuePercentiles]] — the `customer_rfm` discipline: cum·1000 ≥ p·n
    * in integer cross-multiplication, never IEEE division), so the cut
    * is bit-portable across engines and partitionings; density's
    * 4-decimal resolution bounds the histogram at ≤ 20001 rows
    * regardless of corpus size. Emits every scored vector with its
    * `keep` flag (audit-friendly; filter on it to materialize the cut).
    */
  def densityPrune(
      emb: DataFrame,
      dropSparsestPermille: Int = 50,
      dropDensestPermille: Int = 100,
      k: Int = 10,
      bands: Int = 2,
      planes: Int = 4,
      exact: Boolean = false,
      center: Boolean = false,
      corpusHint: Option[Long] = None): DataFrame = {
    require(dropSparsestPermille >= 1 && dropDensestPermille >= 1 &&
      dropSparsestPermille + dropDensestPermille < 1000,
      s"drop permilles must be ≥ 1 and sum below 1000: " +
        s"$dropSparsestPermille + $dropDensestPermille")
    val hiP = 1000 - dropDensestPermille
    val dens = embedDensity(emb, k, bands, planes, exact, center, corpusHint)
    val cuts = Temporal.valuePercentiles(
        dens.select(lit("all").as("g"), col("density").as("v")),
        permilles = Seq(dropSparsestPermille, hiP).distinct,
        groupCol = "g", valueCol = "v")
      .select(col(s"p$dropSparsestPermille").as("lo"), col(s"p$hiP").as("hi"))
    dens.crossJoin(broadcast(cuts))
      .select(col("vec_id"), col("k_edges"), col("density"),
        (col("density") >= col("lo") && col("density") <= col("hi"))
          .as("keep"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR'09) — the
    * standard way a HYBRID retrieval stack combines its lexical
    * ([[graft.operators.TextAnalysis.bm25TopK]]) and vector
    * ([[annTopK]] / [[graft.operators.VectorIndexStore.search]]) result
    * lists without score calibration: each system contributes
    * `1/(k0 + rank)` per document, fused score = the sum over systems,
    * so agreement between rankers dominates any single ranker's scale.
    * Inputs are (doc_id, rank) frames — ranks, never raw scores, which
    * is what makes RRF calibration-free.
    *
    * Scale shape: the inputs are TOP-K LISTS (bounded — each system
    * already reduced its corpus), so everything here is k-sized: a union
    * of ≤ Σkᵢ rows, one tiny groupBy, TakeOrderedAndProject. The corpus
    * never appears.
    *
    * Determinism: each contribution is rounded to 12 decimals and summed
    * as DECIMAL (exact, partition-order independent — the unigram_lm
    * discipline); the fused score rounds to 10 before the
    * (score desc, doc_id) rank, so results are engine-portable.
    * `n_systems` reports how many input lists contained the doc — the
    * agreement signal a reranking stage thresholds on.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], k: Int = 10, k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && k0 >= 1, s"k and k0 must be >= 1: ($k, $k0)")
    // A system contributes AT MOST ONCE per document: collapse each input
    // to min(rank) per doc_id first, so a ranking with duplicate doc_ids
    // (e.g. a multi-query annTopK frame passed without per-query
    // filtering) can neither inflate rrf_score by summing several
    // contributions nor push n_systems past rankings.size. min(rank) is
    // the document's best showing in that system — the standard RRF
    // reading. Still k-sized work: each input is already a top-k list.
    val tagged = rankings.map(
      _.groupBy(col("doc_id")).agg(min(col("rank")).as("rank"))
        .select(col("doc_id"),
          round(lit(1.0) / (lit(k0).cast("double") + col("rank").cast("double")), 12)
            .cast("decimal(20,12)").as("c")))
    tagged.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("sc"), count(lit(1)).cast("long").as("n_systems"))
      .select(col("doc_id"), round(col("sc").cast("double"), 10).as("rrf_score"),
        col("n_systems"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("rank"), col("rrf_score"), col("n_systems"))
  }

  /** BATCH [[rrfFuse]] — fuses per-QUERY ranked lists, completing the
    * batch serving loop ([[graft.operators.TextAnalysis.bm25TopKBatch]]
    * lexical + [[graft.operators.VectorIndexStore.search]] vector, both
    * of which already answer a whole external query batch): inputs are
    * `(query_id, doc_id, rank)` frames, output is the fused top-k per
    * query. Same semantics as [[rrfFuse]] applied independently per
    * query_id — min(rank) collapse per (query, doc) within each system,
    * decimal-summed contributions, 10-decimal round before the
    * (score desc, doc_id) rank.
    *
    * Scale shape: every input is a per-query TOP-K list, so total volume
    * is Σ systems × queries × k — the corpus never appears; the
    * per-query rank is one window whose rank ≤ k filter compiles to the
    * map-capped WindowGroupLimit.
    */
  def rrfFuseBatch(
      rankings: Seq[DataFrame], k: Int = 10, k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.nonEmpty, "rrfFuseBatch needs at least one ranking")
    require(k >= 1 && k0 >= 1, s"k and k0 must be >= 1: ($k, $k0)")
    val tagged = rankings.map(
      _.groupBy(col("query_id"), col("doc_id")).agg(min(col("rank")).as("rank"))
        .select(col("query_id"), col("doc_id"),
          round(lit(1.0) / (lit(k0).cast("double") + col("rank").cast("double")), 12)
            .cast("decimal(20,12)").as("c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    tagged.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("sc"), count(lit(1)).cast("long").as("n_systems"))
      .select(col("query_id"), col("doc_id"),
        round(col("sc").cast("double"), 10).as("rrf_score"), col("n_systems"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("rrf_score"), col("n_systems"))
  }
}
