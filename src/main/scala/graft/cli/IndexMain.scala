package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.EpochStore
import graft.operators.{Bm25IndexStore, VectorIndexStore}

/** `graft-index` — the operational driver for the SERVING index stores,
  * the daily-driver loop their docs describe (the retrieval-side sibling
  * of [[IngestMain]], which drives the fingerprint/minhash gate):
  * found → append per crawl batch → staleness-gated re-found → compact →
  * serve query batches → vacuum, each an idempotent one-command step a
  * scheduler can run. The reference ships only console-script entry
  * points over its dump surface (reference/xdump setup.py:51); this is
  * the index-side analog for the serving operators the reference lacks.
  *
  * {{{
  * // vector store (vec_id, embedding) — found, fold a batch, let the
  * // drift gate decide on a rebuild, bound segment count, reclaim:
  * sbt "runMain graft.cli.IndexMain --vectors /ix/vec --found /emb.parquet"
  * sbt "runMain graft.cli.IndexMain --vectors /ix/vec \
  *   --append /batch.parquet --refound-if-stale --compact --vacuum"
  * // serve an external query batch (vec_id, embedding):
  * sbt "runMain graft.cli.IndexMain --vectors /ix/vec \
  *   --search /queries.parquet -o /out --k 10 --nprobe 2"
  * // print the persisted staleness history (one row per epoch):
  * sbt "runMain graft.cli.IndexMain --vectors /ix/vec --drift"
  *
  * // BM25 store (doc_id, text); queries are (query_id, terms):
  * sbt "runMain graft.cli.IndexMain --bm25 /ix/bm25 --found /docs.parquet"
  * sbt "runMain graft.cli.IndexMain --bm25 /ix/bm25 \
  *   --search /queries.parquet -o /out --k 10"
  * }}}
  *
  * Exactly one of `--bm25 <dir>` / `--vectors <dir>` selects the store.
  * Actions compose in pipeline order: `--found` (re)founds, `--append`
  * folds a new batch in (O(batch); migrates a pre-bmstats BM25 layout in
  * place), `--refound-if-stale` (vector only) runs the drift-gated
  * rebuild ([[VectorIndexStore.refoundIfStale]] — `--stale-ratio` /
  * `--stale-floor` / `--nlist` tune it), `--compact` merges the current
  * epoch's segments to one per family, `--search <parquet> -o <dir>`
  * writes the answer frame, `--vacuum` reclaims superseded epochs last.
  * Founding knobs for the vector store: `--m --pq-k --cent-every
  * --max-cents --residual`.
  */
object IndexMain {

  private val Known = Cli.Known(
    Set("bm25", "vectors", "found", "append", "search", "output", "o", "k", "nprobe",
      "stale-ratio", "stale-floor", "nlist", "m", "pq-k", "cent-every", "max-cents"),
    Set("refound-if-stale", "compact", "drift", "residual", "vacuum"))

  private val Help =
    """usage: graft-index (--bm25 <dir> | --vectors <dir>) [--found <parquet>]
      |       [--append <parquet>] [--refound-if-stale [--stale-ratio r] [--stale-floor f]
      |         [--nlist n]] [--compact] [--search <queries> -o <out> [--k k] [--nprobe n]]
      |       [--drift] [--vacuum] [--m m --pq-k k --cent-every n --max-cents n --residual]""".stripMargin

  def main(args: Array[String]): Unit = Cli.main("graft-index", Help, args)(check)(runWith)

  /** `args` with every check that needs no Spark session. */
  private def check(args: Seq[String]): Cli.Opts = Cli.checked(args, Known) { opts =>
    val isVec = opts.value("vectors").isDefined
    Cli.usage(opts.value("bm25").isDefined != isVec,
      "pass exactly one of --bm25 <dir> or --vectors <dir>")
    Cli.usage(Seq("found", "append", "search").exists(opts.value(_).isDefined) ||
        Seq("refound-if-stale", "compact", "drift", "vacuum").exists(opts.flag),
      "nothing to do: pass --found/--append/--refound-if-stale/--compact/" +
        "--search <queries> -o <out>/--drift/--vacuum")
    Cli.usage(isVec || !opts.flag("refound-if-stale"),
      "--refound-if-stale applies to --vectors stores " +
        "(the BM25 store has no frozen codebook to go stale)")
    Cli.usage(isVec || !opts.flag("drift"), "--drift applies to --vectors stores")
    if (opts.value("search").isDefined) opts.required("output", short = "o")
    for (n <- Seq("k", "nprobe", "nlist", "m", "pq-k", "cent-every", "max-cents");
         v <- opts.value(n))
      Cli.usage(v.toIntOption.isDefined, s"--$n takes an integer, got $v")
    for (n <- Seq("stale-ratio", "stale-floor"); v <- opts.value(n))
      Cli.usage(v.toDoubleOption.isDefined, s"--$n takes a number, got $v")
  }

  def run(args: Seq[String], spark: SparkSession): Unit = runWith(check(args), spark)

  private def runWith(opts: Cli.Opts, spark: SparkSession): Unit = {
    val vectors = opts.value("vectors")
    val store = opts.value("bm25").orElse(vectors).get
    val isVec = vectors.isDefined

    def frame(path: String, cols: Seq[String]): DataFrame = {
      val df = spark.read.parquet(path)
      require(cols.forall(df.columns.contains),
        s"$path must carry columns ${cols.mkString(", ")} " +
          s"(found: ${df.columns.mkString(", ")})")
      df
    }
    def epoch(): Long = EpochStore.currentEpoch(spark, store)

    opts.value("found").foreach { corpus =>
      if (isVec)
        VectorIndexStore.save(frame(corpus, Seq("vec_id", "embedding")), store,
          m = opts.value("m").map(_.toInt).getOrElse(8),
          k = opts.value("pq-k").map(_.toInt).getOrElse(16),
          centEvery = opts.value("cent-every").map(_.toInt).getOrElse(40),
          maxCents = opts.value("max-cents").map(_.toInt).getOrElse(256),
          residual = opts.flag("residual"))
      else
        Bm25IndexStore.save(frame(corpus, Seq("doc_id", "text")), store)
      println(s"founded $store from $corpus (epoch ${epoch()})")
    }

    opts.value("append").foreach { batch =>
      if (isVec)
        VectorIndexStore.append(frame(batch, Seq("vec_id", "embedding")), store)
      else Bm25IndexStore.append(frame(batch, Seq("doc_id", "text")), store)
      println(s"appended $batch into $store (epoch ${epoch()})")
    }

    if (opts.flag("refound-if-stale")) {
      val fired = VectorIndexStore.refoundIfStale(spark, store,
        ratio = opts.value("stale-ratio").map(_.toDouble).getOrElse(2.0),
        floor = opts.value("stale-floor").map(_.toDouble).getOrElse(0.05),
        nlist = opts.value("nlist").map(_.toInt).getOrElse(0))
      println(if (fired)
        s"stale gate FIRED: re-founded $store (epoch ${epoch()})"
      else s"stale gate quiet: no rebuild (epoch ${epoch()})")
    }

    if (opts.flag("compact")) {
      val before = epoch()
      val e =
        if (isVec) VectorIndexStore.compact(spark, store)
        else Bm25IndexStore.compact(spark, store)
      println(if (e == before) s"already compact (epoch $e)"
        else s"compacted $store segments into epoch $e")
    }

    opts.value("search").foreach { queries =>
      val out = opts.required("output", short = "o")
      val k = opts.value("k").map(_.toInt).getOrElse(10)
      val answers =
        if (isVec)
          VectorIndexStore.search(frame(queries, Seq("vec_id", "embedding")),
            store, kNN = k,
            nprobe = opts.value("nprobe").map(_.toInt).getOrElse(1))
        else
          Bm25IndexStore.search(spark, store,
            frame(queries, Seq("query_id", "terms")), k = k)
      answers.write.mode("overwrite").parquet(out)
      // no output re-read for a count: that was a whole extra Spark job
      // per invocation just for a log line (r20 verdict hygiene item)
      println(s"served answers from $store (epoch ${epoch()}) -> $out")
    }

    if (opts.flag("drift")) {
      // bounded: one row per epoch of the current lineage
      VectorIndexStore.driftStats(spark, store)
        .orderBy("epoch").collect().foreach { r =>
          println(f"epoch ${r.getLong(0)}%3d ${r.getString(1)}%-9s " +
            f"rows=${r.getLong(2)}%-8d mean_cdist=${r.getDouble(3)}%.4f " +
            f"p95_cdist=${r.getDouble(4)}%.4f")
        }
      println(s"stale=${VectorIndexStore.stale(spark, store)}")
    }

    if (opts.flag("vacuum")) {
      if (isVec) VectorIndexStore.vacuum(spark, store)
      else Bm25IndexStore.vacuum(spark, store)
      println(s"vacuumed superseded epochs under $store")
    }
  }
}
