package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.FileIO
import graft.operators.{Dedup, FingerprintStore, IngestGate, MinHashStore}

/** `graft-ingest` — the operational driver for the persisted-store crawl
  * loop, the CLI a production pipeline runs daily (the store family's
  * sibling of [[DumpMain]]/[[LoadMain]] over the dump surface; the
  * reference ships only console-script entry points, setup.py:51 — this
  * is the ingest-side analog for the operators the reference lacks).
  *
  * {{{
  * // found both gate artifacts from the accepted corpus (doc_id, text):
  * sbt "runMain graft.cli.IngestMain --stores /stores --found /corpus.parquet"
  *
  * // gate a crawl batch through quality → exact → fuzzy, write the
  * // survivors + per-stage telemetry, and fold them into both stores:
  * sbt "runMain graft.cli.IngestMain --stores /stores \
  *   --batch /crawl/batch-0017.parquet -o /gated/batch-0017 --append"
  *
  * // reclaim superseded store epochs once no reader can hold them:
  * sbt "runMain graft.cli.IngestMain --stores /stores --vacuum"
  *
  * // CONTINUOUS crawl loop: tail a drop directory as a stream, gate +
  * // fold each micro-batch (StreamingIngestGate, replay-safe), write
  * // survivors per batch; --once drains and exits (cron-able). The
  * // batch schema comes from --watch-schema <parquet> or inferred from
  * // files already in the watch dir; --vacuum-every N reclaims
  * // superseded store epochs every N batches, current pin preserved:
  * sbt "runMain graft.cli.IngestMain --stores /stores \
  *   --watch /crawl/incoming -o /gated --once --vacuum-every 10"
  * }}}
  *
  * `--stores <dir>` roots both artifacts (`<dir>/fingerprints`,
  * `<dir>/minhash`). Inputs are parquet frames with `doc_id`, `text`
  * (any other columns ride along). Actions compose in pipeline order:
  * `--found` (re)founds, then `--batch` gates (requiring founded
  * stores), `--append` folds the just-gated survivors in, `--vacuum`
  * runs last. The gate body is [[graft.operators.IngestGate]] — the
  * SAME stack as the `ingest_gate` oracle query and the streaming twin.
  *
  * Telemetry: gating writes `<output>/telemetry.json` with per-stage
  * counts — what each gate dropped is the number an operator watches
  * (a quality collapse means the crawler broke; an exact-dup spike
  * means a re-crawl) — plus the batch's LSH skew gauge
  * ([[graft.operators.Dedup.lshPairVolume]] flattened to
  * `lsh_bands` / `lsh_cand_pairs_total` / `lsh_cand_pairs_max_band` /
  * `lsh_max_bucket_width`: a max band dwarfing the others means one
  * degenerate shingle cluster owns the fuzzy verify join), plus the
  * appended store epochs when `--append` ran.
  */
object IngestMain {

  /** Columns a micro-batch's file FOOTERS carry beyond the pinned stream
    * schema — the set the file source silently projects away. mergeSchema
    * unions ALL the batch's footers (a single-footer sample would miss a
    * mixed batch's wider files); the read is a driver-side footer walk
    * bounded by the batch's file count.
    */
  private[graft] def droppedColumns(
      spark: SparkSession, files: Seq[String],
      pinned: Set[String]): Seq[String] =
    if (files.isEmpty) Seq.empty
    else (spark.read.option("mergeSchema", "true").parquet(files: _*)
      .schema.fieldNames.toSet -- pinned).toSeq.sorted

  /** The files the file-stream source assigned to `batchId`, from the
    * checkpoint's source log (`<ckpt>/sources/0/<batchId>` — one JSON
    * entry per file, written at batch PLANNING time, so it is readable
    * from inside the batch's own foreachBatch). This is the only
    * reliable per-batch file list: the foreachBatch frame itself is
    * RDD-backed (no file lineage), and the survivors frame is
    * checkpointed besides.
    *
    * Every Nth batch (spark.sql.streaming.fileSource.log.compactInterval,
    * default 10) the source writes `<batchId>.compact` INSTEAD of the
    * plain file — it holds every entry since batch 0, each tagged with
    * its own batchId. Missing that case silently skipped the dropped-
    * column telemetry on exactly those batches, so the compact file is
    * read and filtered to the requested batch. An OLDER batch whose
    * plain file the log cleanup already deleted resolves the same way —
    * forward-scan to the nearest `.compact` with id >= batchId and
    * filter by the entries' batchId tags — so replaying a historical
    * batch keeps working after cleanup; only a checkpoint with no
    * covering compact file at all returns empty.
    */
  private[graft] def batchFiles(
      spark: SparkSession, ckpt: String, batchId: Long): Seq[String] = {
    val PathField = """"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val BatchField = """"batchId"\s*:\s*(-?\d+)""".r
    def paths(line: String): Seq[String] =
      PathField.findAllMatchIn(line).map(_.group(1)
        .replace("\\/", "/").replace("\\\\", "\\")).toSeq
    FileIO.readTextIfExists(spark, s"$ckpt/sources/0/$batchId") match {
      case Some(text) => text.linesIterator.flatMap(paths).toSeq
      case None =>
        // No plain file: either `batchId` IS a compaction batch (its
        // entries live in its own `.compact`), or it is an older batch
        // whose plain file the source-log cleanup deleted — its entries
        // survive, batchId-tagged, inside every LATER compact file.
        // Both cases resolve the same way: a covering `.compact` with
        // id >= batchId, filtered to lines tagged with this batch. Every
        // covering compact carries the batch's entries, so the SORTED
        // candidates are tried in order and the first readable one wins —
        // the nearest alone could vanish between listStatus and the read
        // (log cleanup runs concurrently), which silently resolved the
        // batch to empty.
        val dir = new org.apache.hadoop.fs.Path(s"$ckpt/sources/0")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val Compact = """(\d+)\.compact""".r
        val covering =
          if (!fs.exists(dir)) Seq.empty[Long]
          else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
            case Compact(n) if n.toLong >= batchId => n.toLong
          }.sorted
        covering.iterator.flatMap(n =>
            FileIO.readTextIfExists(spark, s"$ckpt/sources/0/$n.compact")).nextOption() match {
          case Some(text) => text.linesIterator.filter(l =>
              BatchField.findFirstMatchIn(l).exists(_.group(1).toLong == batchId))
            .flatMap(paths).toSeq
          case None => Seq.empty // genuinely unknown: pre-log-era checkpoint
        }
    }
  }

  private val Help =
    """usage: graft-ingest --stores <dir> [--found <corpus>]
      |       [--batch <parquet> -o <out> [--append]]
      |       [--watch <dir> -o <out> [--once] [--checkpoint <dir>]
      |         [--watch-schema <parquet>] [--vacuum-every <n>]] [--vacuum]""".stripMargin

  def main(args: Array[String]): Unit = Cli.main("graft-ingest", Help, args)(check)(runWith)

  private val Known = Cli.Known(Set("stores", "found", "batch", "output", "o", "watch",
    "checkpoint", "watch-schema", "vacuum-every"), Set("append", "once", "vacuum"))

  /** `args` with every check that needs no Spark session. */
  private def check(args: Seq[String]): Cli.Opts = Cli.checked(args, Known) { opts =>
    opts.required("stores")
    Cli.usage(opts.value("found").nonEmpty || opts.value("batch").nonEmpty
      || opts.value("watch").nonEmpty || opts.flag("vacuum"),
      "nothing to do: pass --found <corpus>, --batch <dir> -o <out>, " +
        "--watch <dir> -o <out>, and/or --vacuum")
    if (opts.value("batch").nonEmpty || opts.value("watch").nonEmpty)
      opts.required("output", short = "o")
    opts.value("vacuum-every").foreach(n => Cli.usage(n.toIntOption.exists(_ >= 1),
      s"--vacuum-every must be an integer >= 1, got $n"))
  }

  def run(args: Seq[String], spark: SparkSession): Unit = runWith(check(args), spark)

  private def runWith(opts: Cli.Opts, spark: SparkSession): Unit = {
    val stores = opts.required("stores")
    val fp = s"$stores/fingerprints"
    val mh = s"$stores/minhash"

    def frame(path: String): DataFrame = {
      val df = spark.read.parquet(path)
      require(df.columns.contains("doc_id") && df.columns.contains("text"),
        s"$path must carry doc_id and text columns " +
          s"(found: ${df.columns.mkString(", ")})")
      df
    }

    opts.value("found").foreach { corpus =>
      val c = frame(corpus)
      FingerprintStore.save(c, fp)
      MinHashStore.save(c, mh)
      println(s"Founded fingerprint + minhash stores under $stores " +
        s"from $corpus")
    }

    opts.value("batch").foreach { batchPath =>
      val out = opts.required("output", short = "o")
      val batch = frame(batchPath)
      val stages = IngestGate.gateStages(batch,
        FingerprintStore.loadFingerprints(spark, fp),
        MinHashStore.load(spark, mh))
      // one pass computes the survivor set; stage frames are counted
      // AFTER so the counts describe exactly what was written (the
      // quality frame is already localCheckpoint'd inside the gate, so
      // the stack never re-tokenizes per count)
      val survivors = stages.survivors.localCheckpoint()
      survivors.write.mode("overwrite").parquet(s"$out/survivors")
      val counts = Seq(
        "batch_total" -> batch.count(),
        "after_quality" -> stages.quality.count(),
        "after_exact_dedup" -> stages.exact.count(),
        "survivors" -> survivors.count())
      // Pre-flight skew gauge: the batch's per-band LSH candidate-pair
      // volume (lshPairVolume — ≤ bands rows, one signature pass over
      // the batch), flattened into the counts an operator watches. A
      // max-band figure dwarfing total/bands means one degenerate
      // shingle cluster (boilerplate, empty-ish docs) will own the
      // fuzzy stage's verify join — the signal to pre-strip or re-knob
      // BEFORE a corpus-wide run pays it.
      val bandRows = Dedup.lshPairVolume(batch).collect()
      val lshGauge =
        if (bandRows.isEmpty) Seq("lsh_bands" -> 0L)
        else Seq(
          "lsh_bands" -> bandRows.length.toLong,
          "lsh_cand_pairs_total" ->
            bandRows.map(_.getAs[Long]("cand_pairs")).sum,
          "lsh_cand_pairs_max_band" ->
            bandRows.map(_.getAs[Long]("cand_pairs")).max,
          "lsh_max_bucket_width" ->
            bandRows.map(_.getAs[Long]("max_width")).max)
      val appended =
        if (opts.flag("append")) {
          FingerprintStore.append(survivors, fp)
          MinHashStore.append(survivors, mh)
          Seq("fingerprint_epoch" -> graft.core.EpochStore
              .currentEpoch(spark, fp),
            "minhash_epoch" -> graft.core.EpochStore.currentEpoch(spark, mh))
        } else Seq.empty
      val json = (counts ++ lshGauge ++ appended)
        .map { case (k, v) => s""""$k": $v""" }
        .mkString("{\n  ", ",\n  ", "\n}\n")
      Files.createDirectories(Paths.get(out))
      Files.write(Paths.get(s"$out/telemetry.json"),
        json.getBytes(StandardCharsets.UTF_8))
      println(counts.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        (if (opts.flag("append")) s" (folded into both stores)" else ""))
    }

    // The CONTINUOUS form: tail a crawl drop directory as a file-source
    // stream and run the SAME replay-safe loop StreamingIngestGate specs
    // (per-batch two-store epoch pin, fold survivors into both stores).
    // The drop contract is Spark's file source's: parquet FILES appear
    // atomically in the watch dir (stage elsewhere, move in) — nested
    // dataset DIRECTORIES are not discovered.
    // `--once` = Trigger.AvailableNow: drain what's there, then stop —
    // the cron-able shape (and what the spec drives); without it the
    // query runs until killed. The checkpoint (default
    // `<output>/_checkpoint`) is what makes a re-launch resume AFTER
    // the batches it already folded instead of re-gating them.
    opts.value("watch").foreach { watchDir =>
      val out = opts.required("output", short = "o")
      val ckpt = opts.value("checkpoint").getOrElse(s"$out/_checkpoint")
      // Schema: `--watch-schema <parquet>` names a sample file/dir to
      // take it from; otherwise it is inferred from files already in the
      // watch dir. No hardcoded (doc_id, text) projection — ride-along
      // columns survive the gate (the --batch contract), so they must
      // survive the stream too. An empty watch dir with no --watch-schema
      // fails loudly up front instead of silently assuming a shape.
      val schema = opts.value("watch-schema")
        .map(p => spark.read.parquet(p).schema)
        .getOrElse {
          try spark.read.parquet(watchDir).schema
          catch {
            case e: org.apache.spark.sql.AnalysisException => sys.error(
              s"cannot infer the batch schema from $watchDir (${e.getMessage.takeWhile(_ != '\n')}); " +
                "pass --watch-schema <parquet-with-the-batch-shape> when the " +
                "watch dir starts empty")
          }
        }
      require(schema.fieldNames.contains("doc_id") &&
          schema.fieldNames.contains("text"),
        s"watch schema must carry doc_id and text columns " +
          s"(found: ${schema.fieldNames.mkString(", ")})")
      // The schema is PINNED for the life of the stream (Spark's file
      // source contract): micro-batches whose files carry additional
      // ride-along columns are projected DOWN to this shape. Announce the
      // pin so an operator diffing survivors against drops knows what was
      // kept, and warn per-batch when a wider footer arrives (below) —
      // evolving batch shapes need --watch-schema with the wider shape,
      // or a restart once the watch dir carries the new files.
      println(s"watch schema pinned: ${schema.fieldNames.mkString(", ")}" +
        (if (opts.value("watch-schema").isEmpty)
           " (inferred from files present at start; wider later batches " +
             "are projected down — pass --watch-schema to widen)"
         else " (from --watch-schema)"))
      // `--vacuum-every N`: every N micro-batches, drop replay markers
      // for batches the checkpoint has committed (strictly below the
      // current id — the current batch's marker stays, so its pinned
      // epochs survive and a post-vacuum replay of THIS batch still
      // reads exactly what it read) and reclaim both stores' superseded
      // epochs mid-stream.
      val vacuumEvery = opts.value("vacuum-every").map(_.toInt)
      val stream = spark.readStream.schema(schema).parquet(watchDir)
      val writer = graft.streaming.StreamingIngestGate
        .ingest(stream, fp, mh, (df, id) => {
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
          println(s"batch $id: ${df.count()} survivors -> $out/batch_$id")
          vacuumEvery.filter(n => (id + 1) % n == 0).foreach { _ =>
            graft.streaming.StreamingIngestGate.vacuumMarkers(spark, fp, mh, id)
            FingerprintStore.vacuum(spark, fp)
            MinHashStore.vacuum(spark, mh)
            println(s"vacuumed superseded store epochs after batch $id " +
              "(current pin preserved)")
          }
        },
        // Silent-drop telemetry: this batch's file list comes from the
        // checkpoint's source log ([[batchFiles]] — neither the raw
        // foreachBatch frame nor the checkpointed survivors frame carries
        // file lineage); detection factored to [[droppedColumns]] so the
        // spec asserts it against real footers. Telemetry never kills
        // the query.
        onRawBatch = (_, id) => {
          try {
            val dropped = droppedColumns(spark,
              batchFiles(spark, ckpt, id), schema.fieldNames.toSet)
            if (dropped.nonEmpty)
              println(s"batch $id: WARNING dropped columns not in the " +
                s"pinned watch schema: ${dropped.mkString(", ")} " +
                "(pass --watch-schema with the wider shape to keep them)")
          } catch { case scala.util.control.NonFatal(_) => () }
        })
        .option("checkpointLocation", ckpt)
      val q =
        if (opts.flag("once"))
          writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        else writer.start()
      q.awaitTermination()
    }

    if (opts.flag("vacuum")) {
      FingerprintStore.vacuum(spark, fp)
      MinHashStore.vacuum(spark, mh)
      println(s"Vacuumed superseded epochs under $stores")
    }
  }
}
