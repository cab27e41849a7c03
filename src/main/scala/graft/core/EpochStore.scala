package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Epoch-swap persistence shared by every store artifact, and the one
  * skeleton the segmented stores are declared with ([[Segmented]]).
  *
  * Every write lands in NEW files and becomes current only when the
  * one-line `MANIFEST` file is atomically replaced
  * ([[FileIO.replaceText]] — atomic on HDFS and local). Prior
  * epochs are deleted only by the explicit [[vacuum]], so a driver
  * crash, executor loss, or disk-full mid-write leaves the previous
  * epoch fully readable, and an append can read the old epoch while
  * writing the new one with no overwrite-what-you-read hazard.
  *
  * SEGMENTED EPOCHS: a corpus-scale artifact must not be rewritten per
  * ingest batch — at 10⁹ documents a MinHash signature table is ~130 GB,
  * and an append that unions it with a batch and rewrites the union pays
  * O(corpus) I/O for an O(batch) delta, growing with corpus age (the
  * exact failure mode the stores exist to avoid). So an epoch of an
  * artifact is the LIST of its live segment directories, recorded in a
  * `<name>_eN.segs` sidecar file: founding writes segment
  * `<name>_s1` and the list `[<name>_s1]`; an append writes ONLY the
  * batch's rows as `<name>_s(N+1)` and commits a list referencing the
  * old segments plus the new one — old segment files are never touched
  * (spec-asserted byte-identical across appends). [[artifactPaths]]
  * resolves an epoch to its parquet paths; a missing `.segs` file means
  * a pre-segmentation monolithic epoch dir `<name>_eN`, which stays
  * readable and is referenced AS a segment by the first segmented
  * append over it (zero-cost migration — the Iceberg/Delta manifest-of-
  * data-files discipline, scoped down to one pointer file per epoch).
  *
  * THE STORES are [[Segmented]] declarations, so their write path is
  * this file's code: [[graft.operators.MinHashStore]] and
  * [[graft.operators.SimHashStore]] are [[Encoded]] instances (a
  * signature function each); [[graft.operators.FingerprintStore]]
  * (+ Bloom sketch, pre-epoch flat layout),
  * [[graft.operators.VectorIndexStore]] (+ codebooks, drift) and
  * [[graft.operators.Bm25IndexStore]] (+ legacy-layout migration) write
  * through [[Segmented.write]] and keep only what is theirs.
  */
private[graft] object EpochStore {

  private def manifestPath(path: String) = new Path(s"$path/MANIFEST")

  /** One-line long file read — `None` if absent. Shared by the manifest
    * and the streaming replay markers
    * ([[graft.streaming.StreamingFuzzyIngest]]) so the two cannot drift.
    */
  def readLongFile(spark: SparkSession, p: Path): Option[Long] =
    readLongsFile(spark, p).map { ls =>
      require(ls.length == 1, s"$p: expected one value, found ${ls.length}")
      ls.head
    }

  /** One-line whitespace-separated longs read — `None` if absent. The
    * multi-value form of [[readLongFile]]: a marker that must pin
    * SEVERAL artifacts' epochs together (the stacked-gate stream pins
    * the fingerprint AND minhash stores per batch,
    * [[graft.streaming.StreamingIngestGate]]) records them in ONE
    * atomically-replaced file, so the pins can never be torn.
    */
  def readLongsFile(spark: SparkSession, p: Path): Option[Seq[Long]] =
    FileIO.readTextIfExists(spark, p.toString).map { raw =>
      val txt = raw.trim
      try txt.split("\\s+").toSeq.map(_.toLong)
      catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt or truncated epoch marker at $p " +
            s"(content: '${txt.take(64)}') — manifest/pin files are " +
            "single-line longs; restore the file or re-found the store", e)
      }
    }

  /** Atomic one-line long file replace ([[FileIO.replaceText]]). The
    * commit primitive under the manifest and the replay markers.
    */
  def writeLongAtomic(spark: SparkSession, p: Path, v: Long): Unit =
    writeLongsAtomic(spark, p, Seq(v))

  /** [[writeLongAtomic]] for several values on one line (single rename,
    * so a multi-store pin commits all-or-nothing). */
  def writeLongsAtomic(spark: SparkSession, p: Path, vs: Seq[Long]): Unit =
    FileIO.replaceText(spark, p.toString, vs.mkString(" "))

  /** The current committed epoch number, or 0 if none ever committed. */
  def currentEpoch(spark: SparkSession, path: String): Long =
    readLongFile(spark, manifestPath(path)).getOrElse(0L)

  /** Path of artifact `name` in epoch `e` under the store root. */
  def epochDir(path: String, name: String, e: Long): String =
    s"$path/${name}_e$e"

  // ── Segmented epochs ────────────────────────────────────────────────

  /** Directory NAME (path-relative) of segment `seg` of artifact
    * `name` — segment ids are the epoch number that wrote them, unique
    * under the one-writer-at-a-time contract.
    */
  private def segName(name: String, seg: Long): String = s"${name}_s$seg"

  private def segListPath(path: String, name: String, e: Long) =
    new Path(s"$path/${name}_e$e.segs")

  /** The live segment list (path-relative dir names, write order) of
    * artifact `name` at epoch `e` — `None` for a pre-segmentation
    * monolithic epoch (no `.segs` sidecar).
    */
  def readSegments(
      spark: SparkSession, path: String, name: String,
      e: Long): Option[Seq[String]] =
    FileIO.readTextIfExists(spark, segListPath(path, name, e).toString)
      .map(_.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq)

  /** Record epoch `e`'s live segment list. A plain overwrite-create, not
    * an atomic rename: the sidecar is invisible until the MANIFEST swap
    * commits the epoch, and a crashed writer's leftover is overwritten
    * by the next attempt at the same epoch number.
    */
  private def writeSegments(
      spark: SparkSession, path: String, name: String, e: Long,
      segs: Seq[String]): Unit = {
    require(segs.nonEmpty && segs.distinct == segs,
      s"segment list for $name epoch $e must be non-empty and " +
        s"duplicate-free: $segs")
    FileIO.writeText(spark, segListPath(path, name, e).toString, segs.mkString("", "\n", "\n"))
  }

  /** Parquet paths of artifact `name` at epoch `e` ([[liveSegments]]). */
  def artifactPaths(
      spark: SparkSession, path: String, name: String,
      e: Long): Seq[String] =
    liveSegments(spark, path, name, e).map(n => s"$path/$n")

  /** The dirs (path-relative) artifact `name` holds at epoch `e`: the
    * recorded `.segs` list; for a pre-segmentation monolithic epoch its
    * epoch dir; at epoch 0 (no commit ever) the pre-epoch flat dir
    * `<name>` ([[graft.operators.FingerprintStore]]'s oldest layout).
    * Old layouts stay readable, and a write extending them references
    * the dir AS a segment — migration costs zero I/O.
    */
  private def liveSegments(
      spark: SparkSession, path: String, name: String, e: Long): Seq[String] =
    if (e <= 0) Seq(name)
    else readSegments(spark, path, name, e).getOrElse(Seq(s"${name}_e$e"))

  /** Run independent epoch-artifact ACTIONS concurrently (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially). A store epoch write is a handful of tiny,
    * independent jobs — driver-local codebook/meta frames, a bounded
    * stats aggregate, a sidecar read — each paying the per-job floor;
    * run from a small pool they overlap, so an epoch pays ~one floor
    * instead of one per artifact. Every task completes (or fails)
    * BEFORE this returns and the first failure is rethrown after all
    * have settled — the write-everything-then-commit discipline is
    * unchanged, and a failed sibling can never race a commit.
    *
    * Each task runs under the caller's job group, job description, job
    * tags and scheduler pool (Spark local properties), cleared after it:
    * the properties live in an inheritable thread-local, so a pooled
    * thread would otherwise carry whatever its creator had set, not what
    * the caller has set.
    */
  def inParallel(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val props = sc.toSeq.flatMap(c => CallerProperties.map(k => k -> c.getLocalProperty(k)))
    def asCaller(task: () => Unit): Unit = sc match {
      case None => task()
      case Some(c) =>
        props.foreach { case (k, v) => c.setLocalProperty(k, v) }
        try task() finally CallerProperties.foreach(c.setLocalProperty(_, null))
    }
    val fs = tasks.map(t => Future(asCaller(t)))
    val settled = fs.map(f => Await.ready(f, Duration.Inf).value.get)
    settled.collectFirst { case scala.util.Failure(e) => throw e }: Unit
  }

  /** The Spark local properties [[inParallel]] carries into its tasks. */
  private val CallerProperties = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** Point the manifest at epoch `n` (atomic replace). Commit NEVER
    * deletes superseded epochs: a lazy frame (or, on a cluster, an
    * in-flight query) planned against the old epoch keeps reading files
    * a commit-time delete would rip out from under it — the Delta-style
    * discipline is that writers only add, and retention is the explicit,
    * operator-invoked [[vacuum]].
    *
    * CONCURRENCY CONTRACT: one writer per store at a time. Every caller
    * derives `n = currentEpoch + 1`, so two concurrent appends would
    * both write `<name>_e(N+1)` and the second manifest swap would
    * silently absorb the first writer's rows into oblivion. The
    * re-read guard here turns most of that silent lost-update into a
    * loud failure (a writer whose read is stale at commit time throws
    * instead of clobbering); it is best-effort, not a CAS — a plain
    * filesystem rename cannot compare-and-swap, and serious multi-writer
    * coordination (Delta-style optimistic log commits) is out of scope
    * for these artifacts. Serialize writers externally.
    */
  def commitEpoch(spark: SparkSession, path: String, n: Long): Unit = {
    val cur = currentEpoch(spark, path)
    if (cur != n - 1)
      throw new IllegalStateException(
        s"concurrent EpochStore writer detected at $path: committing " +
          s"epoch $n but the manifest already moved to $cur (expected " +
          s"${n - 1}) — another writer raced this one; its epoch would " +
          "have been silently lost. Serialize store writers.")
    writeLongAtomic(spark, manifestPath(path), n)
  }

  /** THE SEGMENTED-STORE SKELETON, declared once per store: each
    * `segmented` family with the merge rewrite [[compact]] applies to the
    * union of its segments, and the `carried` per-epoch MONOLITHIC
    * families (`<name>_eN` dirs the store writes itself) that [[compact]]
    * copies forward. It owns the epoch write ([[write]]), a family's load,
    * [[compact]] and [[vacuum]]. Contracts: one writer per store at a time
    * ([[commitEpoch]]); appended rows are new (callers gate first);
    * superseded epochs stay loadable until [[vacuum]] (a replayed stream
    * batch re-gates against the epoch it originally saw).
    *
    * @param what the store's name in errors ("no committed <what> epoch")
    */
  class Segmented(
      what: String,
      segmented: Seq[(String, DataFrame => DataFrame)],
      carried: Seq[String] = Seq.empty) {

    private val families = segmented.map(_._1)
    require(families.intersect(carried).isEmpty,
      s"$what declares ${families.intersect(carried)} both segmented and carried")

    /** The committed epoch, failing loudly on an empty store. */
    private[graft] def epoch(spark: SparkSession, path: String): Long =
      requireEpoch(spark, path, what)

    /** Family `family`'s rows at epoch `e`: the union of its live segments. */
    private[graft] def loadFamily(
        spark: SparkSession, path: String, e: Long, family: String): DataFrame =
      ParquetFiles.read(spark, artifactPaths(spark, path, family, e): _*)

    /** Directory of `family`'s segment written by epoch `e`. */
    private[graft] def segment(path: String, family: String, e: Long): String =
      s"$path/${segName(family, e)}"

    /** THE EPOCH WRITE of `next = base + 1`: `body(next)` writes each new
      * [[segment]] and carried dir, then every family's `.segs` sidecar is
      * recorded and the manifest commits last — a `body` that throws
      * commits nothing. A family's list is its new segment alone, or, on
      * `extend`, `base`'s list plus it (old segments are referenced, never
      * rewritten: O(batch) I/O); a family in `carry` keeps `base`'s list.
      */
    private[graft] def write(
        spark: SparkSession, path: String, base: Long, extend: Boolean = false,
        carry: Set[String] = Set.empty)(body: Long => Unit): Unit = {
      val next = base + 1
      body(next)
      families.foreach { f =>
        val prior =
          if (extend || carry(f)) liveSegments(spark, path, f, base)
          else Seq.empty
        writeSegments(spark, path, f, next,
          if (carry(f)) prior else prior :+ segName(f, next))
      }
      commitEpoch(spark, path, next)
    }

    /** SEGMENT COMPACTION — the bound the segmented-append design needs
      * to hold over deployment AGE, not just corpus size: after K appends
      * a reader lists K segment dirs per family and its scans fragment
      * across K small files' row groups. `compact` merges the CURRENT
      * epoch's segments into ONE new segment per family (through the
      * family's rewrite), copies the carried families forward (a dir absent
      * at the current epoch is skipped: pre-telemetry stores) and
      * epoch-swaps it in; the fragments go at the next [[vacuum]] (the
      * Delta/Iceberg OPTIMIZE discipline, scoped to one pointer file).
      *
      * @return the epoch now current — unchanged (a no-op) when every
      *   segmented family already holds ≤ 1 segment
      */
    def compact(spark: SparkSession, path: String): Long = {
      val cur = epoch(spark, path)
      val already = families.forall(n =>
        readSegments(spark, path, n, cur).forall(_.size <= 1))
      if (already) return cur
      // each family's rewrite/copy reads only the superseded epoch and
      // writes only its own new dirs — independent actions, overlapped
      // (guide §2.6) so a multi-family store pays ~one job floor per
      // compaction, not one per family; commit stays last
      write(spark, path, cur) { next =>
        inParallel(
          (segmented.map { case (n, rewrite) => () =>
            rewrite(loadFamily(spark, path, cur, n)).write.mode("overwrite")
              .parquet(segment(path, n, next))
          }: Seq[() => Unit]) ++
          carried.map { n => () => {
            val src = epochDir(path, n, cur)
            if (FileIO.exists(spark, src))
              ParquetFiles.read(spark, src).coalesce(1)
                .write.mode("overwrite").parquet(epochDir(path, n, next))
          }}: _*)
      }
      cur + 1
    }

    /** [[EpochStore.vacuum]] over every declared family — call once no
      * in-flight reader still holds plans against a superseded epoch.
      */
    def vacuum(spark: SparkSession, path: String): Unit =
      EpochStore.vacuum(spark, path, families ++ carried)
  }

  /** A one-family [[Segmented]] store whose rows are [[encode]] of the
    * documents handed to `save` (found or re-found) and `append` (ONLY
    * the batch's rows, as a new segment); compaction is a plain merge.
    */
  abstract class Encoded(what: String, family: String)
      extends Segmented(what, Seq(family -> identity[DataFrame] _)) {

    /** The family's rows for documents `docs`. */
    protected def encode(docs: DataFrame): DataFrame

    /** The store's rows at the committed epoch. */
    def load(spark: SparkSession, path: String): DataFrame =
      loadEpoch(spark, path, epoch(spark, path))

    /** The store's rows at a SPECIFIC epoch — superseded epochs stay
      * readable until [[vacuum]] (streaming replay reads the epoch a
      * micro-batch originally gated against).
      */
    def loadEpoch(spark: SparkSession, path: String, e: Long): DataFrame =
      loadFamily(spark, path, e, family)

    def save(docs: DataFrame, path: String): Unit = {
      val spark = docs.sparkSession
      write(spark, path, currentEpoch(spark, path))(writeSegment(docs, path, _))
    }

    def append(docs: DataFrame, path: String): Unit = {
      val spark = docs.sparkSession
      write(spark, path, epoch(spark, path), extend = true)(writeSegment(docs, path, _))
    }

    private def writeSegment(docs: DataFrame, path: String, e: Long): Unit =
      encode(docs).write.mode("overwrite").parquet(segment(path, family, e))
  }

  /** Replay-pin marker files: `<KIND>BATCH_<id>` / `<KIND>PIN_<id>` in
    * the store root ([[graft.streaming.StreamingFuzzyIngest]] /
    * [[graft.streaming.StreamingIngestGate]]). CONTRACT: the FIRST long
    * in a marker pins an epoch of THE STORE THE FILE SITS IN (later
    * longs may pin other stores — the stacked gate's primary marker
    * carries both its stores' pins). [[vacuum]] reads these so it can
    * never reclaim an epoch a live replay still needs.
    */
  private val MarkerName = "^[A-Z]+(?:BATCH|PIN)_\\d+$".r

  /** Epochs pinned by replay markers in this store's root. */
  def pinnedEpochs(spark: SparkSession, path: String): Set[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).iterator
      .filter(s => MarkerName.matches(s.getPath.getName))
      .flatMap(s => readLongsFile(spark, s.getPath).flatMap(_.headOption))
      .toSet
  }

  /** Drop everything that neither the CURRENT epoch nor a live replay
    * PIN ([[pinnedEpochs]] — a streaming marker not yet vacuumed)
    * references, for each artifact name. Reclaims: superseded
    * monolithic epoch dirs, superseded `.segs` sidecars, segment dirs
    * absent from every kept epoch's list, and an unreferenced legacy
    * flat `<path>/<name>` dir. Segment ids ABOVE the current epoch are
    * left alone — they may belong to an in-flight writer. Pinned
    * epochs keep their sidecar and every segment their list names, so
    * vacuum-before-marker-cleanup degrades to reclaiming less instead
    * of breaking a replay (the marker vacuum then unpins and the next
    * vacuum finishes the job). Deletion failures are non-fatal: a
    * leftover old epoch is garbage, not corruption.
    */
  def vacuum(
      spark: SparkSession, path: String, names: Seq[String]): Unit = {
    val cur = currentEpoch(spark, path)
    if (cur <= 0) return
    val mp = manifestPath(path)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pins = pinnedEpochs(spark, path).filter(_ < cur)
    names.foreach { n =>
      // names kept: every dir any kept epoch's list references (a
      // pinned epoch with no sidecar is a pre-segmentation monolithic
      // dir — keep that dir itself)
      val keep: Set[String] =
        (Seq(cur) ++ pins).flatMap(liveSegments(spark, path, n, _)).toSet
      val epochRe = (java.util.regex.Pattern.quote(n) + "_e(\\d+)").r
      val segsRe = (java.util.regex.Pattern.quote(n) + "_e(\\d+)\\.segs").r
      val segRe = (java.util.regex.Pattern.quote(n) + "_s(\\d+)").r
      val st = fs.globStatus(new Path(path, n + "_*"))
      if (st != null) st.foreach { s =>
        val nm = s.getPath.getName
        nm match {
          case segsRe(e) if e.toLong < cur && !pins.contains(e.toLong) =>
            fs.delete(s.getPath, false)
          case epochRe(e) if e.toLong < cur && !keep.contains(nm) =>
            fs.delete(s.getPath, true)
          case segRe(k) if k.toLong <= cur && !keep.contains(nm) =>
            fs.delete(s.getPath, true)
          case _ => ()
        }
      }
      val flat = new Path(s"$path/$n")
      if (!keep.contains(n) && fs.exists(flat)) fs.delete(flat, true)
    }
  }

  /** The committed epoch, failing loudly on an empty store. */
  def requireEpoch(spark: SparkSession, path: String, what: String): Long = {
    val e = currentEpoch(spark, path)
    require(e > 0, s"no committed $what epoch at $path")
    e
  }
}
