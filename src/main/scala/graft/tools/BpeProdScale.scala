package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Harness}
import graft.operators.Bpe

/** Production-merge-count proof for the BPE pair (`bpeTrainFast` +
  * `BpeEncode`) — VERDICT r16 task 3. The synthetic corpus's ~31-word
  * vocabulary saturates training at ~100 merges, so the r16 scale rows
  * could not exercise production vocabularies. This tool:
  *
  *  1. builds a CHAR-DIVERSE variant of the corpus by suffixing every
  *     token with a per-token hash tag (`word` → `word-h137`): the token
  *     multiset explodes to ~vocab × 1000 distinct word TYPES with
  *     digit-bearing tails, enough pair structure to train 5k–30k real
  *     merges, while doc shape/volume stay the corpus's own;
  *  2. times `bpeTrainFast` at 5k / 15k / 30k merges on the 1× corpus
  *     (the training claim: ONE corpus pass + a driver loop that is
  *     O(vocab) per merge — merge count should cost ~linearly in the
  *     DRIVER loop only, far below corpus cost growth);
  *  3. times `bpeApply` (the codegen'd greedy encoder) under the 8-merge
  *     demo table vs the 30k-merge trained table on every given corpus
  *     size (the encode claim: per-word cost CONSTANT in merge count —
  *     the m30k curve must sit on the m8 curve at every scale, with the
  *     diverse corpus guaranteeing the 30k table genuinely FIRES: its
  *     merges collapse the suffixed tokens it was trained on);
  *  4. round-trips the 30k-merge table through saveMerges → loadMerges
  *     and asserts the replayed tokenization is row-identical on a
  *     sample (the persistence contract at production vocabulary size).
  *
  * Usage: `runMain graft.tools.BpeProdScale dir1,dir2,...` — prints one
  * JSON line (min-of-reps seconds, same noop-sink full-materialization
  * discipline as Bench).
  */
object BpeProdScale {

  /** The char-diverse corpus: each token gains a deterministic hash tag
    * of (token, doc_id) — PER-DOCUMENT, so each base word type fans out
    * into up to 9973 distinct suffixed TYPES across the corpus (hundreds
    * of thousands of word types from the ~31-word synthetic vocabulary,
    * digit-bearing tails; training caps at the 50k most frequent),
    * giving the trainer real pair structure at 30k merges while document
    * shape and volume stay the corpus's own.
    */
  def diverse(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_join(
      transform(split(col("text"), "\\s+"),
        t => concat(t, lit("-h"),
          pmod(xxhash64(t, col("doc_id")), lit(9973)).cast("string"))),
      " ").as("text"))

  def main(args: Array[String]): Unit = {
    val dirs = args.headOption.getOrElse("/root/testdata/sf0.1").split(",").toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.cpus)

    val base = spark.read.parquet(s"${dirs.head}/documents.parquet")
    val train = diverse(base)

    // ── training curve at production merge counts (1× corpus) ──────────
    // the 30k run's frame doubles as the tool's table — no second train
    var table30kVar: DataFrame = null
    val trainTimes = Seq(5000, 15000, 30000).map { m =>
      val ((merges, n), dt) = Harness.seconds {
        val merges = Bpe.bpeTrainFast(train, numMerges = m, maxVocab = 50000)
        (merges, merges.count())
      }
      require(n == m, s"trainer stopped at $n of $m merges — vocabulary " +
        "saturated; the diverse corpus is supposed to prevent that")
      if (m == 30000) table30kVar = merges
      m -> dt
    }
    val table30k = table30kVar
    val merges30k = table30k.orderBy("merge_rank")
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val demoMerges = Seq(
      ("t", "h"), ("th", "e</w>"), ("a", "l"), ("u", "e</w>"),
      ("r", "o"), ("ro", "w</w>"), ("k", "e"), ("ke", "y</w>"))

    // ── save/load round-trip at 30k merges ──────────────────────────────
    val store = java.nio.file.Files
      .createTempDirectory("graft-bpeprod").toString
    Bpe.saveMerges(table30k, s"$store/merges")
    val loaded = Bpe.loadMerges(spark, s"$store/merges")
    require(loaded == merges30k, "loadMerges round-trip diverged")
    val sample = train.where(col("doc_id") % 97 === 0)
    val a = Bpe.bpeApply(sample, merges30k).orderBy("doc_id").collect()
    val b = Bpe.bpeApply(sample, loaded).orderBy("doc_id").collect()
    require(a.sameElements(b), "replayed tokenization diverged after round-trip")

    // ── encode curves: m8 vs m30k per corpus size ───────────────────────
    val runs = dirs.map { dir =>
      val docs = diverse(spark.read.parquet(s"$dir/documents.parquet"))
      val nDocs = docs.count()
      val m8 = Harness.warmRuns(reps)(Bpe.bpeApply(docs, demoMerges)).min
      val m30k = Harness.warmRuns(reps)(Bpe.bpeApply(docs, merges30k)).min
      // witness that the table FIRES: tokens-per-doc must shrink well
      // below the character segmentation under the trained table
      val toks = Bpe.bpeApply(docs.limit(200), merges30k)
        .agg(sum(col("n_bpe_tokens"))).head.getLong(0)
      (dir, nDocs, m8, m30k, toks)
    }

    def j(d: Double) = f"$d%.3f"
    println("{\"metric\":\"bpe_prod_scale\"" +
      s""","train_merge_curve_1x":{${trainTimes.map { case (m, t) =>
        s""""m$m":${j(t)}""" }.mkString(",")}}""" +
      s""","roundtrip_30k":"ok"""" +
      s""","encode":[${runs.map { case (dir, n, m8, m30k, tk) =>
        s"""{"dir":"$dir","n_docs":$n,"m8":${j(m8)},"m30k":${j(m30k)},""" +
          s""""ratio":${j(m30k / m8)},"sample_tokens":$tk}""" }.mkString(",")}]}""")
    spark.stop()
  }
}
