package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Dsir, QualityLr, Similarity, Temporal, TextAnalysis}

/** Scaling spot-check for the pair/ANN family (SURVEY §6): times each
  * operator at several corpus sizes WITH ITS SCALE KNOBS SET the way a
  * 100 TB deployment would set them, because that is the claim under
  * test. The per-round Bench entries deliberately pin small-SF parameter
  * values so the DuckDB oracles can replay them; two of those pins are
  * fixed-capacity configurations whose cost is quadratic in corpus size
  * by construction (documented on the operators), so benching THEM at
  * 10× would measure the pinned configuration, not the plan:
  *
  *  - `embedCosineDup`/`annLsh` without `corpusHint` keep 2^planes
  *    buckets fixed while the corpus grows — bucket size ∝ n, verify
  *    work ∝ n². `corpusHint` (the deployment knob) grows planes as
  *    ceil(log₂(n/64)), pinning expected bucket width at ~64.
  *  - the n-gram family's cost is Σ_shingle df² bounded by the `maxDf`
  *    cap at maxDf × shingle volume = O(n·maxDf). The synthetic corpus
  *    draws from a ~31-token vocabulary, so EVERY shingle's df grows ∝ n
  *    and the cap must be low enough to bite for the bound to engage
  *    (real corpora are zipfian: the cap amputates the head, the tail is
  *    df = O(1)). maxDf = 20 here makes the cap the binding constraint
  *    at every tested size, demonstrating the O(n·maxDf) regime.
  *
  * Usage: `runMain graft.ScaleCheck dir1,dir2,...` — each dir holds
  * documents.parquet + embeddings.parquet (scripts/scale_corpus.py
  * builds decorrelated K× variants). Prints one JSON line per dir with
  * per-operator min-of-3 seconds (same full-materialization noop-sink
  * discipline as Bench).
  */
object ScaleCheck {

  /** Line-structured variant of the flat synthetic docs (which carry no
    * newlines): unique head/middle/tail lines from the doc's own text plus
    * two boilerplate lines planted on doc_id strides — the duplication
    * shape the line-dedup family exists for (SparkEntry.c4Batch's trick,
    * parameter-free here).
    */
  private def lineBatch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col("doc_id"), concat(
      substring(col("text"), 1, 60), lit(".\n"),
      when(col("doc_id") % 3 === 0,
        lit("subscribe to our newsletter for updates.\n")).otherwise(lit("")),
      substring(col("text"), 30, 60), lit(" middle body line.\n"),
      when(col("doc_id") % 7 === 0,
        lit("all rights reserved worldwide.\n")).otherwise(lit("")),
      substring(col("text"), 10, 70), lit(" closing line.")
    ).as("text"))
  }

  /** [[lineBatch]] plus an in-doc repeated header/footer — the shape
    * [[TextAnalysis.stripRepeatedLines]] removes (SparkEntry.repBatch's
    * trick, parameter-free here).
    */
  private def repLineBatch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col("doc_id"), concat(
      lit("site header menu\n"),
      substring(col("text"), 1, 60), lit(".\n"),
      lit("site header menu\n"),
      substring(col("text"), 30, 60), lit(" middle body line.\n"),
      lit("site header menu")
    ).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val dirs = args.headOption.getOrElse("/root/testdata/sf0.1").split(",").toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.cpus)

    // scale_corpus.py decorrelates copies by PERMUTING each doc's token
    // stream — which kills every cross-copy n-gram but preserves the
    // token MULTISET, and therefore the bag-of-words embedding, exactly:
    // in embedding space the K× corpus is K exact duplicates of the 1×
    // corpus, every doc gaining K−1 cosine-1.0 twins, so an all-pairs
    // similarity measurement over docEmbed vectors grows ∝ K² by DATA
    // pathology (the script docstring's "measure the pathological data"
    // trap, resurfacing in embedding space — measured: doc_knn 5.1× on
    // the 10×→30× step before this fix, 1.0× flat after). The embedding
    // COMPOSITION ops therefore suffix every token with its doc's copy
    // index (ids pack as orig + copy·origMod, scale_corpus.py's layout):
    // within-copy similarity structure is preserved — one copy sees one
    // consistent vocabulary — while cross-copy vectors decorrelate, the
    // same discipline the script applies to the embeddings table (per-
    // copy circular shift), which is why knn_graph_hinted needs no fix.
    val origMod = sys.env.getOrElse("SPARK_GRAFT_SCALE_ORIG_MOD", "5000").toLong
    for (dir <- dirs) {
      def docs = spark.read.parquet(s"$dir/documents.parquet")
      def emb = spark.read.parquet(s"$dir/embeddings.parquet")
      def decorDocs = {
        import org.apache.spark.sql.functions._
        docs.withColumn("text",
          array_join(transform(split(col("text"), "\\s+"),
            t => concat(t, lit("c"),
              floor(col("doc_id") / origMod).cast("long").cast("string"))), " "))
      }
      // events route through the catalog (ts-flavor normalization to
      // epoch-nanos LONG), then to the epoch seconds every event-time
      // operator consumes
      def eventsSec(d: String): DataFrame =
        graft.core.Catalog.tpch(spark, d).table("events")
          .withColumn("ts",
            org.apache.spark.sql.functions.expr("ts div 1000000000"))
      val nDocs = docs.count()
      val nEmb = emb.count()
      // proportional query set (the oracle-checked shape): queries ∝ n, so
      // total search work is (n/50)·cost-per-query — reports how the WHOLE
      // pipeline grows if the query side is a corpus fraction
      val qf = col("vec_id") % 50 === 0
      // fixed query batch (the deployment shape: a search serves a bounded
      // query set against a growing corpus) — isolates per-corpus cost.
      // scale_corpus copy 0 keeps original ids, so this set is identical
      // at every K.
      val qfFixed = col("vec_id") % 50 === 0 && col("vec_id") < 2000
      // production IVF: trained codebook of FIXED k — assignment cost per
      // row is constant in corpus size (the sampled default grows its
      // codebook as n/centEvery until maxCents, a quadratic window)
      val trained = Similarity.trainIvfCodebook(emb, k = 64)

      // Segmented-epoch append cost at FIXED batch size over a GROWING
      // founded corpus — the claim the segment layout exists for: append
      // writes only the batch's rows as a new segment, so its cost must
      // be flat in corpus size. Stores found lazily (the warmup rep pays
      // the founding, discarded by min-of-reps); the fixed batch is the
      // copy-0 docs (present identically at every K) re-keyed past any
      // corpus id per rep. Expectations differ BY DESIGN: minhash append
      // never touches corpus data (signature batch + a name-list
      // sidecar) — flat; fingerprint append streams the corpus's 16-byte
      // digest column once map-side for the exact-distinct novelty
      // anti-join — a small linear term in digest count (the exactness
      // price; the WRITE is still O(batch)).
      lazy val mhAppendStore = {
        val s = java.nio.file.Files
          .createTempDirectory("graft-mhapp-sc").toString
        graft.operators.MinHashStore.save(docs, s)
        s
      }
      lazy val fpAppendStore = {
        val s = java.nio.file.Files
          .createTempDirectory("graft-fpapp-sc").toString
        graft.operators.FingerprintStore.save(docs, s)
        s
      }
      // prebuilt stores for the serve-half rows (the build halves are
      // their own timed rows; lazy founding here is untimed)
      lazy val hybStore = SparkEntry.hybridChunkBuild(spark, dir)
      lazy val cixStore = SparkEntry.chunkIndexBuild(spark, dir)
      lazy val bmStore = {
        val s = java.nio.file.Files
          .createTempDirectory("graft-bmix-sc").toString
        graft.operators.Bm25IndexStore.save(
          docs.select(col("doc_id"), col("text")), s)
        s
      }
      // the SEARCH rows' own store, never appended to: bm25_store_append
      // mutates bmStore each rep, so a search row sharing it would read a
      // segment count that depends on row execution order and rep count —
      // the 'flat in corpus size' claim would silently carry an
      // O(#appends) stats-file term (r19 ADVICE)
      lazy val bmSearchStore = {
        val s = java.nio.file.Files
          .createTempDirectory("graft-bmixq-sc").toString
        graft.operators.Bm25IndexStore.save(
          docs.select(col("doc_id"), col("text")), s)
        s
      }
      // ── compaction benefit (r19 verdict task 2): a store aged by 50
      // single-batch appends (51 segments/family — each append O(batch),
      // but every search then reads 51 single-row stats files and
      // term-prunes across 51 small posting files) vs the SAME store
      // after compact(). The *_50seg rows run BEFORE the *_compacted
      // rows (ops is ordered; the compacted rows' first access triggers
      // the in-place compaction) — expect 50seg to sit visibly above
      // the single-segment bm25_store_search rows at every corpus size,
      // and compacted to fall back onto them.
      lazy val bmAgedStore = {
        import org.apache.spark.sql.functions._
        val s = java.nio.file.Files
          .createTempDirectory("graft-bmaged-sc").toString
        graft.operators.Bm25IndexStore.save(
          docs.select(col("doc_id"), col("text")), s)
        (1 to 50).foreach { i =>
          // FIXED ~50-doc batch per append (the daily-crawl shape):
          // segment count is the variable under test, not batch volume
          graft.operators.Bm25IndexStore.append(
            docs.where(col("doc_id") < 2000 && col("doc_id") % 40 === i % 40)
              .select((col("doc_id") + lit(2000000000L)
                + lit(i.toLong * 1000000L)).as("doc_id"),
                concat(col("text"), lit(" seg"), lit(i).cast("string"))
                  .as("text")), s)
        }
        s
      }
      lazy val bmAgedCompacted = {
        graft.operators.Bm25IndexStore.compact(spark, bmAgedStore)
        bmAgedStore
      }

      // ── refound cost + recall recovery (r19 verdict task 5): a
      // genuinely DRIFTED store — founding = the real embeddings at
      // hinted nlist (~64 cells), the appended batch = the same vectors
      // squashed onto a fixed alternating-sign direction the founding
      // codebook never saw. Prep is untimed; it fires the GENUINE
      // drift-gated refound once, recording its wall time and the
      // recall@10-vs-exact before/after into the aux fields. The timed
      // row then re-fires the rebuild per rep (forced gate) so the
      // median prices a full reconstruct→retrain→re-encode at this
      // corpus scale; vec_refound_found_baseline is the bounded-multiple
      // yardstick (a fresh founding over the same union).
      // The spec geometry (VectorIndexStoreSpec "refoundIfStale") SCALED:
      // founding = nEmb rows in 64 tight 4-hot clusters over coords
      // 0..31; shifted = 2nEmb/3 rows in FIXED-SIZE (~20-member) 4-hot
      // clusters over coords 32..63 — a region every founding centroid
      // is near-orthogonal to, so frozen-codebook assignment of shifted
      // members scatters on the small real-embedding jitter (recall
      // decays), the drift gate fires GENUINELY at the default ratio
      // (founding p95 cdist ≈ jitter, shifted ≈ 1), and a retrained
      // codebook re-coheres each cluster into a cell. Cluster COUNT
      // grows with n so membership recall neither saturates nor drowns
      // in near-ties. The real embeddings supply the deterministic
      // jitter.
      // cluster count capped at 192 so the refound nlist (64 founding +
      // shifted clusters — drift and growth arrive together, the
      // refoundIfStale doc's knob) stays a small constant multiple of
      // the founding 64 and the rebuild curve stays linear in n. Beyond
      // ~30× the members-per-cluster growth saturates the before-recall
      // (scattered cells hold ≥ 10 members by mass alone) — the honest
      // regime boundary; the p95 ratio stays the drift signal there.
      lazy val shiftedIdBase = 100000000L
      lazy val nShiftClusters =
        math.max(8, math.min(192, (nEmb * 2 / 3 / 20).toInt))
      // 2-hot cluster directions over two independent 16-coordinate
      // blocks: 256 distinct directions per region, any two sharing at
      // most ONE spike (inter-cluster dot ≤ 0.5 — cleanly above the
      // double-quantization noise floor, unlike a mixed-radix 4-hot
      // family whose neighbors overlapped at 0.75 and blurred the
      // membership truth)
      def twoHot(c: org.apache.spark.sql.Column, base: Int,
          jitter: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        import org.apache.spark.sql.functions._
        (jitter * lit(0.05)
          + when(i === lit(base.toLong) + pmod(c, lit(16L)), lit(1.0))
            .otherwise(lit(0.0))
          + when(i === lit(base + 16L) + pmod(c / 16L, lit(16L)), lit(1.0))
            .otherwise(lit(0.0))).cast("float")
      }
      lazy val foundingBatch = {
        import org.apache.spark.sql.functions._
        val c = pmod(col("vec_id"), lit(64L))
        emb.select(col("vec_id"),
          transform(col("embedding"), (x, i) => twoHot(c, 0, x, i))
            .as("embedding"))
      }
      lazy val shiftedBatch = {
        import org.apache.spark.sql.functions._
        val c = pmod(col("vec_id"), lit(nShiftClusters.toLong))
        emb.where(col("vec_id") % 3 =!= 0)
          .select((col("vec_id") + lit(shiftedIdBase)).as("vec_id"),
            transform(col("embedding"), (x, i) => twoHot(c, 32, x, i))
              .as("embedding"))
      }
      lazy val driftUnion =
        foundingBatch.unionByName(shiftedBatch).localCheckpoint()
      lazy val refoundPrep: (String, Seq[(String, Double)]) = {
        import org.apache.spark.sql.functions._
        val s = java.nio.file.Files
          .createTempDirectory("graft-vixref-sc").toString
        // centEvery forced ODD: the sampling rule picks ids ≡ 0 (mod ce),
        // whose founding clusters (id % 64) cover all 64 iff gcd(ce,64)=1
        val ce = math.max(1, (nEmb / 64).toInt) | 1
        // m = 32 (2-dim subspaces): the md5 default codebook's 16 codes
        // cover a 2-dim subspace well (the spec's regime) — at sub = 8
        // the random family's decode noise drowned the membership signal
        graft.operators.VectorIndexStore.save(foundingBatch, s,
          m = 32, centEvery = ce, maxCents = 64)
        graft.operators.VectorIndexStore.append(shiftedBatch, s)
        val qIds = shiftedBatch.select("vec_id").orderBy("vec_id").limit(50)
          .collect().map(_.getLong(0)).toSeq
        val queries = driftUnion.where(col("vec_id").isin(qIds: _*))
        // cluster-membership recall@10 (the spec's honest truth: a
        // query's ~20 cluster members are near-ties any correct top-10
        // draws from; jitter-level ordering is beneath PQ resolution by
        // design). k = 11 then drop self — the store search has no
        // self-exclusion (serving contract).
        def recall10(): Double = {
          def clusterOf(idCol: org.apache.spark.sql.Column) =
            pmod(idCol - lit(shiftedIdBase), lit(nShiftClusters.toLong))
          graft.operators.VectorIndexStore
            .search(queries, s, kNN = 11, nprobe = 2)
            .where(col("neighbor_id") =!= col("query_id"))
            .groupBy(col("query_id"))
            .agg((sum(when(col("neighbor_id") >= shiftedIdBase &&
                clusterOf(col("neighbor_id")) === clusterOf(col("query_id")),
              1.0).otherwise(0.0)) / lit(10.0)).as("recall"))
            .agg(avg(col("recall"))).head().getDouble(0)
        }
        val before = recall10()
        val hist = graft.operators.VectorIndexStore.driftStats(spark, s)
          .orderBy(col("epoch")).collect()
        val p95Ratio = hist.last.getAs[Double]("p95_cdist") /
          math.max(hist.head.getAs[Double]("p95_cdist"), 1e-9)
        // nlist grown to cover founding + shifted clusters; the sample
        // scales with the corpus so every fixed-size shifted cluster
        // keeps trainer representation
        // sample scales with the corpus (fixed-size shifted clusters keep
        // trainer representation) but caps at 50k — the driver-side Lloyd
        // is O(sampleN × nlist × dim × iters) and 50k × 256 cells already
        // gives every cluster ~100 sampled members at the largest dir
        val (fired, genuineSec) = Harness.seconds(
          graft.operators.VectorIndexStore.refoundIfStale(spark, s,
            nlist = 64 + nShiftClusters,
            sampleN = math.min(50000, math.max(10000, nEmb.toInt))))
        val after = recall10()
        (s, Seq(
          "vec_drift_p95_ratio" -> p95Ratio,
          "vec_refound_fired" -> (if (fired) 1.0 else 0.0),
          "vec_refound_genuine_s" -> genuineSec,
          "vec_recall_before_refound" -> before,
          "vec_recall_after_refound" -> after))
      }

      var appendRep = 0L
      def fixedFreshBatch(): DataFrame = {
        import org.apache.spark.sql.functions._
        appendRep += 1
        docs.where(col("doc_id") < 5000 && col("doc_id") % 10 === 7)
          .select((col("doc_id") + lit(1000000000L)
            + lit(appendRep * 1000000L)).as("doc_id"),
            // rep-salted so every rep's digests are NOVEL — measuring
            // the real novel-append path, not the all-dup fast path
            concat(col("text"), lit(" rep"),
              lit(appendRep).cast("string")).as("text"))
      }

      // BPE encode at demo (8) vs production-scale (1k+) merge counts:
      // the greedy encoder's claim is per-word cost CONSTANT in the merge
      // count, so the m1k curve must sit on the m8 curve (the replaced
      // stacked-replace fold was O(merges × doc-length): 128× apart).
      // The 1k table is well-formed by construction — prefix chains of
      // the corpus's frequent words — so it both fires on this corpus
      // and satisfies the greedy≡rank-order contract.
      lazy val bigMergeTable: Seq[(String, String)] = {
        import org.apache.spark.sql.functions._
        val top = docs
          .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy("w").count()
          .orderBy(col("count").desc, col("w"))
          .limit(400)
          .collect().map(_.getString(0))
        val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
        top.foreach { w =>
          val cps = w.toSeq.map(_.toString)
          if (cps.length >= 2) {
            var acc = cps.head
            cps.tail.zipWithIndex.foreach { case (c, i) =>
              val r = if (i == cps.length - 2) c + graft.operators.Bpe.Eow else c
              seen += ((acc, r))
              acc = acc + r
            }
          }
        }
        // the synthetic corpus's ~31-word vocabulary yields only ~110 real
        // chains; pad with well-formed chains over words the corpus cannot
        // contain (digit-bearing) so the RANK MAP genuinely carries 1k+
        // entries — the per-pair hash probe pays the same whether its map
        // has 8 rows or 30k, which is exactly the constant-in-M claim
        var pad = 0
        while (seen.size < 1200) {
          val w = s"zz${pad}xq${pad % 7}"
          val cps = w.toSeq.map(_.toString)
          var acc = cps.head
          cps.tail.zipWithIndex.foreach { case (c, i) =>
            val r = if (i == cps.length - 2) c + graft.operators.Bpe.Eow else c
            seen += ((acc, r))
            acc = acc + r
          }
          pad += 1
        }
        seen.toSeq
      }
      val demoMerges = Seq(
        ("t", "h"), ("th", "e</w>"), ("a", "l"), ("u", "e</w>"),
        ("r", "o"), ("ro", "w</w>"), ("k", "e"), ("ke", "y</w>"))

      val ops: Seq[(String, () => DataFrame)] = Seq(
        "bpe_tokenize_m8" -> (() =>
          graft.operators.Bpe.bpeApply(docs, demoMerges)),
        "bpe_tokenize_m1k" -> (() =>
          graft.operators.Bpe.bpeApply(docs, bigMergeTable)),
        // BM25: two scan passes + a 1-row broadcast + TakeOrdered —
        // expected linear, scan-bound
        "bm25_topk" -> (() =>
          graft.operators.TextAnalysis.bm25TopK(docs,
            Seq("dup", "row", "vector"), k = 20)),
        // driver-loop BPE trainer at 100 merges (the synthetic vocab's
        // ceiling): ONE corpus pass + in-memory merges — expected linear
        // in the word-count aggregation, flat in the merge count
        "bpe_train_fast_m100" -> (() =>
          graft.operators.Bpe.bpeTrainFast(docs, numMerges = 100)),
        "minhash_store_append" -> { () =>
          graft.operators.MinHashStore.append(fixedFreshBatch(), mhAppendStore)
          spark.range(1).toDF("ok")
        },
        "fingerprint_store_append" -> { () =>
          graft.operators.FingerprintStore.append(fixedFreshBatch(), fpAppendStore)
          spark.range(1).toDF("ok")
        },
        "dedup_minhash" -> (() => Dedup.minhashPairs(docs)),
        "ngram_scores_df20" -> (() => Dedup.ngramScores(docs, maxDf = 20)),
        "dup_spans" -> (() => Dedup.dupSpans(docs, w = 15, stride = 5)),
        "strip_dup_spans" -> (() => Dedup.stripDupSpans(docs, w = 15, stride = 5)),
        "dedup_groups" -> (() => Dedup.dedupGroups(Dedup.minhashPairs(docs))),
        "embed_cosine_dup_hinted" -> (() =>
          Similarity.embedCosineDup(emb, threshold = 0.4, corpusHint = Some(nEmb))),
        "ann_lsh_hinted" -> (() =>
          Similarity.annLsh(emb, qf, k = 10, corpusHint = Some(nEmb))),
        "ann_ivf" -> (() => Similarity.annIvf(emb, qf, k = 10, centEvery = 40)),
        "ann_ivf_fixedq_trained64" -> (() =>
          Similarity.annIvf(emb, qfFixed, k = 10, codebook = Some(trained))),
        "pq_search" -> (() => Similarity.pqSearch(emb, qf, kNN = 10)),
        "pq_search_fixedq" -> (() => Similarity.pqSearch(emb, qfFixed, kNN = 10)),
        "semantic_dedup" -> (() =>
          Similarity.semanticDedup(emb, threshold = 0.4, centEvery = 40)),
        // ingest-shape dedup: last 20 % of ids as the "new batch" against
        // the rest — both sides reduce to fingerprints map-side
        "incremental_dedup" -> (() =>
          Dedup.incrementalDedup(
            docs.where(col("doc_id") % 10 >= 8),
            docs.where(col("doc_id") % 10 < 8))),
        "train_shuffle" -> (() => graft.operators.Chunk.trainShuffle(docs, shards = 32)),
        // the composed curation pipeline (SparkEntry "corpus_curate" minus
        // the oracle-only global sort, WITH its production persist of the
        // shared strip subtree): its scaling is the max of its stages'
        // scalings — dominated by the dup-span index
        "corpus_curate" -> { () =>
          val surviving = Dedup.stripDupSpans(docs)
            .where(col("n_tokens_removed") * 2 <= col("n_tokens"))
            .select(col("doc_id"), col("text_clean").as("text"))
            .persist()
          try {
            val banded = TextAnalysis.lengthBand(surviving)
            val withText = banded.join(surviving, "doc_id")
            val keep = TextAnalysis.dedupExact(withText)
              .select(col("keep_id").as("doc_id"))
            TextAnalysis.hashSamplePermille(
                withText.join(keep, Seq("doc_id"), "left_semi"),
                permille = 500, salt = "curate")
              .localCheckpoint()
          } finally surviving.unpersist()
        },
        // the 100 TB LM-scoring plan: broadcast top-K vocab, map-side
        // scoring, one corpus-volume shuffle (the vocab count) — k = 20
        // keeps the OOV path live on the ~31-token synthetic vocabulary
        "unigram_lm_capped" -> (() => TextAnalysis.unigramLm(docs, vocabTopK = Some(20))),
        // proportional bench set (the oracle shape: every 50th doc) vs the
        // deployment shape (a FIXED benchmark suite — copy 0 keeps the
        // original ids, so the set is identical at every K)
        "contamination" -> (() => Dedup.contamination(docs, col("doc_id") % 50 === 0)),
        "contamination_fixedbench" -> (() =>
          Dedup.contamination(docs, col("doc_id") % 50 === 0 && col("doc_id") < 5000)),
        // raw text straight to packed training sequences (SparkEntry
        // "corpus_to_sequences" minus the oracle-only global sort)
        "corpus_to_sequences" -> { () =>
          val keep = TextAnalysis.dedupExact(docs).select(col("keep_id").as("doc_id"))
          val cleaned = docs
            .where(TextAnalysis.passesQuality(col("text")))
            .join(keep, Seq("doc_id"), "left_semi")
          graft.operators.Chunk.packSequences(
            TextAnalysis.hashSample(cleaned, pct = 50, salt = "clean"),
            budget = 256, buckets = 8)
        },
        // IVFADC composition: oracle shape (proportional queries, sampled
        // codebook) and deployment shape (fixed query batch + trained
        // fixed-k codebook — both quadratic windows closed)
        "ivfpq_search" -> (() =>
          Similarity.ivfPqSearch(emb, qf, kNN = 10, centEvery = 40, nprobe = 2)),
        "ivfpq_fixedq_trained64" -> (() =>
          Similarity.ivfPqSearch(emb, qfFixed, kNN = 10, nprobe = 2,
            ivfCodebook = Some(trained))),
        // DSIR: both corpora (raw + en target) grow with n — two bounded
        // histogram shuffles + one doc_id shuffle, expected linear
        "dsir_weights" -> (() =>
          Dsir.dsirWeights(docs, docs.where(col("lang") === "en"), buckets = 1024)),
        // persist-vs-recompute for the corpus feature pass (the SparkEntry
        // shape is the tagged form): recompute runs the tokenize+bigram
        // pass twice (fit + score); persist featurizes once into the block
        // store and reuses it for both. localCheckpoint materializes
        // inside the timed thunk so unpersist can run eagerly — its extra
        // result write (~n_docs rows) slightly penalizes the persist
        // variant, i.e. the comparison is conservative.
        "dsir_weights_tagged" -> (() =>
          Dsir.dsirWeights(docs, col("lang") === "en", buckets = 1024)),
        "dsir_weights_tagged_persist" -> (() =>
          Dsir.dsirWeightsPersisted(docs, col("lang") === "en", buckets = 1024)),
        // corpus-bigram LM scoring: vocab shuffle bounded by distinct
        // bigrams (pruning caps the broadcast side), one doc_id shuffle —
        // expected linear
        "bigram_lm" -> (() => TextAnalysis.bigramLm(docs)),
        "bigram_lm_pruned" -> (() => TextAnalysis.bigramLm(docs, minCount = 25)),
        // learned quality filter: iters+1 linear passes, 4-decimal
        // aggregates — expected linear
        "quality_lr" -> (() => QualityLr.qualityLr(docs)),
        // CCNet perplexity terciles: one persisted scoring pass, histogram
        // windows bounded by score resolution (not corpus size), threshold
        // table broadcast back — expected linear in the scoring pass
        "perplexity_buckets" -> (() => TextAnalysis.perplexityBuckets(docs)),
        // Bloom ingest dedup (same batch split as incremental_dedup): the
        // sketch build is one linear pass; the batch filter is map-side
        "bloom_ingest_dedup" -> (() =>
          Dedup.bloomIngestDedup(
            docs.where(col("doc_id") % 10 >= 8),
            docs.where(col("doc_id") % 10 < 8))),
        // line-granularity dedup over a synthesized line-structured corpus
        // (the flat synthetic docs have no newlines; lineBatch plants hot
        // boilerplate lines the way SparkEntry's c4Batch does): two
        // 8-byte-key shuffles — expected linear
        "dup_lines" -> (() => Dedup.dupLines(lineBatch(docs))),
        "strip_dup_lines" -> (() => Dedup.stripDupLines(lineBatch(docs))),
        // FineWeb line-shape battery: pure map-side — expected linear
        "fineweb_filter" -> (() => TextAnalysis.finewebFilter(lineBatch(docs))),
        // vocab coverage: one map-side-combined token shuffle; ranking
        // bounded by max(k) — expected linear in the tokenize pass
        "vocab_coverage" -> (() => TextAnalysis.vocabCoverage(docs)),
        // kNN graph, deployment knobs: planes follow log2(n) via the hint
        // so bucket width stays pinned — expected ~linear shuffle +
        // bounded-bucket verify
        "knn_graph_hinted" -> (() =>
          Similarity.knnGraph(emb, k = 10, bands = 2, corpusHint = Some(nEmb))),
        // WIMBD census: one map-side-combined n-gram shuffle + bounded
        // top-k — expected linear in the tokenize/explode pass
        "top_ngrams" -> (() => TextAnalysis.topNgrams(docs)),
        // PSI drift gate: two token shuffles + parameter-bounded vocab
        // cut — expected linear (the vocab_coverage family)
        "corpus_drift" -> (() =>
          TextAnalysis.corpusDrift(docs,
            docs.where(col("lang") === "en"), topK = 300)),
        // map-side salted-hash split — expected linear (scan-bound)
        "corpus_split" -> (() => TextAnalysis.corpusSplit(docs)),
        // within-doc repeated-line strip: zero shuffle, per-row cost
        // bounded by a doc's line count (array_position index algebra) —
        // expected linear; repLineBatch plants the in-doc repeats
        "strip_repeat_lines" -> (() =>
          TextAnalysis.stripRepeatedLines(repLineBatch(docs))),
        // event-time family over the scaled events table (disjoint-key
        // replication: K× users, same per-user history shape). All three
        // are one-key-shuffle window/agg plans — expected linear.
        "sessionize" -> (() =>
          Temporal.sessionize(eventsSec(dir), gapSeconds = 1800)),
        "event_funnel" -> (() =>
          Temporal.eventFunnel(eventsSec(dir),
            Seq("signup", "view", "click", "purchase"))),
        "retention_cohorts" -> (() =>
          Temporal.retentionCohorts(
            eventsSec(dir).withColumn("day",
              org.apache.spark.sql.functions.expr("ts div 86400")),
            maxDays = 30)),
        // exact percentile cuts: histogram + per-group bounded windows —
        // expected linear in the histogram reduction
        "events_percentiles" -> (() =>
          Temporal.valuePercentiles(eventsSec(dir))),
        // sliding 2h/1h windows: 2× map-side expansion + bounded groupBy —
        // expected linear
        "events_sliding" -> { () =>
          import org.apache.spark.sql.functions._
          eventsSec(dir)
            .withColumn("w",
              window(expr("timestamp_seconds(ts)"), "2 hours", "1 hour"))
            .groupBy(col("event_type"), col("w.start").cast("long").as("ws"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,6)")).as("sv"))
        },
        // four-battery ensemble: one map-side pass — expected linear,
        // cost ≈ the sum of its member batteries
        "quality_ensemble" -> (() =>
          TextAnalysis.qualityEnsemble(lineBatch(docs))),
        // SQ8 asymmetric search: bounded-dim training agg + broadcast
        // queries over reconstructed corpus — proportional query set, so
        // pair work grows n²/50 like pq_search's; fixed-query deployment
        // shape isolates the per-corpus linear part
        "sq_search" -> (() =>
          Similarity.sqSearch(emb, qf, kNN = 10)),
        "sq_search_fixedq" -> (() =>
          Similarity.sqSearch(emb, qfFixed, kNN = 10)),
        // pass-5 rows (VERDICT r11 #5) — the orders/events analytics that
        // had no scaling measurement yet. scale_corpus replicates orders
        // with disjoint (o_custkey, o_orderkey) and a user-key modulus
        // SHARED with events, so asof matches stay per-copy. The first
        // four run the SparkEntry query bodies verbatim (their trailing
        // sorts are over bounded or skinny-row outputs — noted, not
        // removed, so the measured plan is the shipped plan):
        //  - customer_rfm: per-customer agg + 3 bounded quintile-cut
        //    broadcasts — output O(customers), expect linear
        //  - orders_monthly: month×priority agg (BOUNDED output: the date
        //    span doesn't grow, volume per month does) — expect flat-ish
        //    over the scan
        //  - funnel_counts: eventFunnel reduced to 4 rows — expect the
        //    funnel's linear one-key shuffle
        //  - events_props: get_json_object rollup to #event_types rows —
        //    map-side + bounded agg, expect linear scan-bound
        "customer_rfm" -> (() =>
          SparkEntry.queries("customer_rfm")(spark, dir)),
        "orders_monthly" -> (() =>
          SparkEntry.queries("orders_monthly")(spark, dir)),
        "funnel_counts" -> (() =>
          SparkEntry.queries("funnel_counts")(spark, dir)),
        "events_props" -> (() =>
          SparkEntry.queries("events_props")(spark, dir)),
        // tolerance as-of join, the SparkEntry query body verbatim (its
        // trailing event_id sort included — the r12 pass-5 artifact rows
        // measured a sortless variant; same plan otherwise): union+tag+
        // last over ONE key shuffle — expect linear
        "asof_join_tol" -> (() =>
          SparkEntry.queries("asof_join_tol")(spark, dir)),
        // HLL++ sketch profile: one map-side-combined shuffle to
        // #(lang,source) rows — expect linear scan-bound
        "profile_approx" -> (() =>
          TextAnalysis.corpusProfileApprox(docs)),
        // kNN-density pruning score: knn_graph_hinted's plan + one
        // bounded groupBy over the ≤ n·k edge list — expect the hinted
        // graph's curve
        "embed_density_hinted" -> (() =>
          Similarity.embedDensity(emb, k = 10, bands = 2,
            corpusHint = Some(nEmb))),
        // batch-serving rows (VERDICT r17 task 7), SparkEntry bodies
        // VERBATIM — each serves a FIXED query batch (Bm25BatchQueries /
        // doc 42) against the growing corpus, the serving shape: corpus
        // statistics + scoring are the only corpus-volume passes, the
        // per-query top-k ships ≤ partitions × Q × k rows — expect
        // scan-bound near-linear. hybrid_chunk_search builds AND saves
        // its chunk index in the same evaluation (the demo's save+serve
        // shape), so its curve carries the linear ingest pass too.
        "bm25_batch" -> (() =>
          SparkEntry.queries("bm25_batch")(spark, dir)),
        "hybrid_batch_search" -> (() =>
          SparkEntry.queries("hybrid_batch_search")(spark, dir)),
        "hybrid_chunk_search" -> (() =>
          SparkEntry.queries("hybrid_chunk_search")(spark, dir)),
        // the r18 watch-item SPLIT of the combined row above: build =
        // the chunk-index founding (expect linear — the ingest pass),
        // serve = BM25-over-chunks + persisted-store ADC + RRF against
        // a PREBUILT store (expect the scan-bound bm25 half to dominate;
        // the vector half touches codebooks + probed postings only)
        "hybrid_chunk_build" -> { () =>
          SparkEntry.hybridChunkBuild(spark, dir)
          spark.range(1).toDF("ok")
        },
        "hybrid_chunk_serve" -> (() =>
          SparkEntry.hybridChunkServe(spark, dir, hybStore)),
        "chunk_index_serve" -> (() =>
          SparkEntry.chunkIndexServe(spark, dir, cixStore)),
        // BM25 index-store family (VERDICT r18 task 2): save = the one
        // corpus pass (expect linear); append = a FIXED fresh batch onto
        // the founded store (expect flat — O(batch) segments, statistics
        // are per-segment write-time aggregates, never recomputed over
        // the corpus); search = the FIXED shared query batch from
        // postings (expect cost tracking Σ df of the batch's terms —
        // which on this ~31-token synthetic vocabulary grows ∝ n, the
        // honest worst case); search_nomatch = a batch whose term has no
        // postings (expect FLAT in corpus size — the direct witness that
        // search reads nothing O(N-docs): before the r19 fix this paid
        // two full bmdocs scans and would grow linearly)
        "bm25_store_save" -> { () =>
          val s = java.nio.file.Files
            .createTempDirectory("graft-bmsave-sc").toString
          graft.operators.Bm25IndexStore.save(
            docs.select(col("doc_id"), col("text")), s)
          spark.range(1).toDF("ok")
        },
        "bm25_store_append" -> { () =>
          graft.operators.Bm25IndexStore.append(fixedFreshBatch(), bmStore)
          spark.range(1).toDF("ok")
        },
        "bm25_store_search" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmSearchStore,
            SparkEntry.Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        },
        "bm25_store_search_nomatch" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmSearchStore,
            Seq((1L, Seq("zzznotaterm"))).toDF("query_id", "terms"), k = 10)
        },
        // segment-aged vs compacted (see bmAgedStore above): the 50seg
        // rows price the per-segment overhead a year of daily appends
        // accretes; the compacted rows must fall back onto the
        // single-segment bm25_store_search/_nomatch curves
        "bm25_store_search_50seg" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmAgedStore,
            SparkEntry.Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        },
        "bm25_store_search_nomatch_50seg" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmAgedStore,
            Seq((1L, Seq("zzznotaterm"))).toDF("query_id", "terms"), k = 10)
        },
        "bm25_store_search_compacted" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmAgedCompacted,
            SparkEntry.Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        },
        "bm25_store_search_nomatch_compacted" -> { () =>
          import spark.implicits._
          graft.operators.Bm25IndexStore.search(spark, bmAgedCompacted,
            Seq((1L, Seq("zzznotaterm"))).toDF("query_id", "terms"), k = 10)
        },
        // refound cost curve (prep + aux fields: refoundPrep above) —
        // each rep re-fires the rebuild on the constant-size store
        "vec_refound" -> { () =>
          graft.operators.VectorIndexStore.refoundIfStale(spark,
            refoundPrep._1, ratio = -1.0, floor = -1.0)
          spark.range(1).toDF("ok")
        },
        // the bounded-multiple yardstick: fresh founding over the union
        // AT THE SAME nlist the refound rebuilds to, so the ratio of the
        // two rows is the rebuild-vs-founding multiple under test
        "vec_refound_found_baseline" -> { () =>
          val s = java.nio.file.Files
            .createTempDirectory("graft-vixfnd-sc").toString
          val nlist = 64 + nShiftClusters
          graft.operators.VectorIndexStore.save(driftUnion, s, m = 32,
            centEvery = math.max(1, (nEmb * 5 / 3 / nlist).toInt) | 1,
            maxCents = nlist)
          spark.range(1).toDF("ok")
        },
        // the persisted-fingerprint ingest LOOP (save + 2 dedup epochs +
        // append, the SparkEntry demo verbatim): founding reduce is the
        // only corpus-text pass — expect linear, dominated by the save
        "fingerprint_ingest" -> (() =>
          SparkEntry.queries("fingerprint_ingest")(spark, dir)),
        // forward as-of: the same one-shuffle union+tag plan as backward
        // with the frame side flipped — expect the asof_join_tol curve
        "asof_join_fwd" -> (() =>
          SparkEntry.queries("asof_join_fwd")(spark, dir)),
        // DAU/WAU: distinct (day,user) frame + bounded ×7 window-end
        // expansion — expect linear in the distinct reduction
        "events_dau" -> (() =>
          SparkEntry.queries("events_dau")(spark, dir)),
        // text → kNN composition at deployment knobs (centered buckets,
        // derived planes) — expect knn_graph_hinted's curve plus the
        // linear embed passes
        "doc_knn_hinted" -> (() =>
          Similarity.knnGraph(Similarity.docEmbed(decorDocs, dim = 16),
            k = 3, bands = 2, center = true, corpusHint = Some(nDocs))),
        // the capstone chain embed ∘ knnGraph ∘ dedupGroups at deployment
        // knobs — expect doc_knn's curve + pointer-jumping propagation
        // rounds growing O(log diameter)
        "semantic_groups" -> { () =>
          val edges = Similarity.knnGraph(Similarity.docEmbed(decorDocs, dim = 16),
              k = 3, bands = 2, center = true, corpusHint = Some(nDocs))
            .where(col("cosine") >= 0.95)
            .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
          Dedup.dedupGroups(edges)
        },
        // RAG chunk index: map-side chunk explode + docEmbed + hinted
        // kNN over ~4× the rows (chunks) — expect doc_knn's curve at the
        // chunk multiple
        "chunk_knn" -> (() => Similarity.chunkKnn(decorDocs, k = 3)),
        // the bucketCap recall dial at the design bucket width (hinted
        // planes target ~64): bounds verify at buckets × 64² per band no
        // matter the distribution — the documented mitigation for the
        // chunk-graph's last-decade pair constant (recall delta measured
        // in SimilaritySpec; here the COST side of the trade)
        "chunk_knn_cap64" -> (() =>
          Similarity.chunkKnn(decorDocs, k = 3, bucketCap = Some(64))),
        // the persisted-SIGNATURE fuzzy ingest loop (save + gate + append
        // + gate, the SparkEntry demo verbatim): corpus text is
        // signature-reduced once at founding — expect linear in the save
        "minhash_ingest_dedup" -> (() =>
          SparkEntry.queries("minhash_ingest_dedup")(spark, dir)),
        // the Hamming-bounded fuzzy ingest loop — NOTE decorDocs, not the
        // raw scaled corpus: SimHash is a function of the token MULTISET,
        // which scale_corpus.py's per-copy token permutation preserves
        // exactly (every copy would be a hamming-0 twin, the docEmbed
        // pathology), while MinHash's 3-gram shingles decorrelate under
        // the same permutation — which is why the minhash entry above
        // reads the corpus raw
        "simhash_ingest_dedup" -> { () =>
          val docs = decorDocs
          val store = java.nio.file.Files
            .createTempDirectory("graft-shstore-sc").toString
          graft.operators.SimHashStore.save(
            docs.where(col("doc_id") % 2 === 0), store)
          val b1 = docs.where(col("doc_id") % 3 === 0)
            .select(col("doc_id"), col("text"))
          val f1 = Dedup.simhashIngestDedup(
            b1, graft.operators.SimHashStore.load(spark, store))
          graft.operators.SimHashStore.append(
            b1.join(f1.select(col("batch_id").as("doc_id")).distinct(),
              Seq("doc_id"), "left_anti"),
            store)
          Dedup.simhashIngestDedup(
            docs.where(col("doc_id") % 5 === 0)
              .select(col("doc_id"), col("text")),
            graft.operators.SimHashStore.load(spark, store))
        },
        // the persisted ANN serving loop (save + append + external-query
        // ADC search, the SparkEntry demo verbatim — embeddings table, which
        // scale_corpus.py already decorrelates by per-copy circular shift):
        // expect linear in the founding encode, search bounded by
        // nprobe × cell width
        "ivfpq_ingest_search" -> (() =>
          SparkEntry.queries("ivfpq_ingest_search")(spark, dir)),
        // the serving loop AT DEPLOYMENT KNOBS — the oracle-pinned demo
        // above is a fixed-capacity configuration whose cost is quadratic
        // in corpus size by construction (the embedCosineDup-without-hint
        // pathology, twice over: the query batch grows ∝ n AND the
        // 256-cap cell width grows ∝ n, so scored pairs grow ∝ n²); a
        // deployment sizes nlist at founding (centEvery ≈ corpus/nlist —
        // encode cost n × nlist stays linear) and serves a query RATE
        // independent of corpus size (the pinned copy-0 batch here).
        // Expect linear: founding encode ∝ n, per-query candidates
        // = nprobe × n/nlist with a 1/64 constant
        // the stacked per-batch gate (quality -> exact -> fuzzy), the
        // SparkEntry demo verbatim — raw corpus on purpose: md5 digests
        // and MinHash shingles both decorrelate under the script's token
        // permutation, and quality is per-doc. Batch and corpus both
        // grow with the scale factor — expect linear (each stage is a
        // measured-flat gate at fixed batch share)
        "ingest_gate" -> (() =>
          SparkEntry.queries("ingest_gate")(spark, dir)),
        // the RAG serving composition AT DEPLOYMENT KNOBS (decorDocs for
        // the bag-of-words chunks, nlist pinned at founding via derived
        // centEvery, query batch pinned to the copy-0 docs): expect the
        // founding chunk-encode to dominate, linear at fixed nlist
        "chunk_index_hinted" -> { () =>
          val store = java.nio.file.Files
            .createTempDirectory("graft-cix-sc").toString
          val emb = Similarity.chunkEmbed(decorDocs, dim = 16)
            .localCheckpoint()
          // bumped until coprime with the 10^6 = 2^6·5^6 chunk-packing
          // modulus: a centEvery sharing a factor with it (odd divisors
          // exist — 5, 25, …, 15625) aliases the vec_id % centEvery
          // sampling rule onto a fixed chunk_id residue and collapses the
          // sampled centroids (the prime-163 lesson from the demo)
          val ce = Iterator.from(math.max(1, (emb.count() / 64).toInt))
            .find(c => BigInt(c).gcd(BigInt(1000000)) == 1).get
          graft.operators.VectorIndexStore.save(
            emb, store, centEvery = ce, maxCents = 64)
          graft.operators.VectorIndexStore.search(
            Similarity.chunkEmbed(
              decorDocs.where(col("doc_id") % 50 === 0 && col("doc_id") < 5000),
              dim = 16),
            store, kNN = 5, nprobe = 2)
        },
        "ivfpq_ingest_hinted" -> { () =>
          val store = java.nio.file.Files
            .createTempDirectory("graft-vix-sc").toString
          val founding = emb.where(col("vec_id") % 3 =!= 0)
          val ce = math.max(1, (nEmb * 2 / 3 / 64).toInt)
          graft.operators.VectorIndexStore.save(
            founding, store, centEvery = ce, maxCents = 64)
          graft.operators.VectorIndexStore.append(
            emb.where(col("vec_id") % 3 === 0), store)
          graft.operators.VectorIndexStore.search(
            emb.where(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
              .select(col("vec_id"), col("embedding")),
            store, kNN = 10, nprobe = 2)
        })

      // SPARK_GRAFT_SCALE_ONLY=a,b,c runs a subset (merge results by hand)
      val selected = Harness.select(ops, sys.env.get("SPARK_GRAFT_SCALE_ONLY"),
        "SPARK_GRAFT_SCALE_ONLY")(_._1)

      val mins = selected.map { case (name, fn) =>
        name -> Harness.warmRuns(reps)(fn()).min
      }
      val qs = mins.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      // aux: non-timing measurements a selected row's prep recorded
      // (the refound loop's genuine-fire wall time + recall recovery)
      val auxEntries: Seq[(String, Double)] =
        if (selected.exists(_._1 == "vec_refound")) refoundPrep._2
        else Seq.empty
      val auxJson = auxEntries.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      // one JSON line per dir, Bench-style
      println(s"""{"dir":"$dir","n_docs":$nDocs,"n_emb":$nEmb,"queries_min":$qs,"aux":$auxJson}""")
    }
    spark.stop()
  }
}
