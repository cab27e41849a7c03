package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark program: one JVM, one Spark session, one workload.
  *
  * {{{
  * perfbench.Main --workload fk_dump|stores --seed N --seconds S --trace 0|1
  *   --scratch DIR --out RESULT.json [--spans SPANS.jsonl]
  * }}}
  *
  * A run generates its inputs from the seed, sets up (session, set-up work
  * repeated [[foundRounds]] times, [[WarmupRounds]] untimed rounds), then
  * runs rounds in a closed loop with one client until `--seconds` have
  * passed (at least [[minRounds]]). A round is one op of each family the
  * run drives:
  *  - `fk_dump`: one archived partial dump, then its restore;
  *  - `stores`: one crawl batch gated and folded into the ingest stores,
  *    then one query batch served by the BM25 and vector stores;
  *  - a traced run (either workload) drives all three families, so it
  *    records every layer.
  * Every op's outputs are checked; a failed check fails the op and its
  * samples are dropped.
  */
object Main {
  /** Spark task threads (`local[Threads]`), one configuration for every run. */
  val Threads = 2
  /** Set-up rounds: three untraced (their median is `setup_s`), one traced. */
  def foundRounds(trace: Boolean): Int = if (trace) 1 else 3
  val WarmupRounds = 1
  /** At least this many timed rounds: three untraced, one traced (a traced
    * run drives every family, and its job counts repeat exactly).
    */
  def minRounds(trace: Boolean): Int = if (trace) 1 else 3

  /** End-to-end metrics, shared by both workloads: each workload has one
    * write op and one read op. Value: the median of the named source
    * samples of the workload.
    */
  val EndToEnd: Seq[(String, String, Map[String, String])] = Seq(
    ("write_s", "s", Map("fk_dump" -> "dump_s", "stores" -> "ingest_batch_s")),
    ("read_s", "s", Map("fk_dump" -> "restore_s", "stores" -> "serve_batch_s")),
    ("write_bytes_per_row", "B",
      Map("fk_dump" -> "archive_bytes_per_row", "stores" -> "store_bytes_per_doc")),
    ("write_rows_per_s", "rows/s",
      Map("fk_dump" -> "dump_rows_per_s", "stores" -> "ingest_docs_per_s")))

  /** Per-layer metrics a traced run reports, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "closure.s" -> "s", "closure.jobs" -> "count",
    "dump_write.s" -> "s", "dump_write.jobs" -> "count", "dump_write.tasks" -> "count",
    "dump_write.cpu_s" -> "s", "dump_write.shuffle_bytes" -> "B", "dump_write.out_bytes" -> "B",
    "archive.s" -> "s", "archive.bytes" -> "B", "unarchive.s" -> "s",
    "load_into.s" -> "s", "load_into.jobs" -> "count", "load_into.cpu_s" -> "s",
    "read_manifest.s" -> "s", "read_manifest.jobs" -> "count", "rows" -> "count",
    "dump.untraced.s" -> "s",
    "gate.quality.s" -> "s", "gate.quality.jobs" -> "count", "gate.quality.cpu_s" -> "s",
    "gate.quality.dropped" -> "count",
    "gate.exact.s" -> "s", "gate.exact.jobs" -> "count", "gate.exact.dropped" -> "count",
    "gate.fuzzy.s" -> "s", "gate.fuzzy.jobs" -> "count", "gate.fuzzy.cpu_s" -> "s",
    "gate.fuzzy.dropped" -> "count", "gate.fuzzy.cand_pairs" -> "count",
    "gate.fuzzy.useful_ratio" -> "ratio", "gate.fuzzy.neardup_drop_rate" -> "ratio",
    "gate.survivors_write.s" -> "s", "store.load.s" -> "s", "store.segments" -> "count",
    "store.append.s" -> "s", "store.append.jobs" -> "count", "store.append.bytes_written" -> "B",
    "store.compact.s" -> "s", "store.compact.bytes_rewritten" -> "B",
    "ingest.untraced.s" -> "s",
    "bm25.load.s" -> "s", "bm25.search.s" -> "s", "bm25.search.jobs" -> "count",
    "bm25.search.cpu_s" -> "s", "bm25.search.rows_read" -> "count",
    "bm25.search.shuffle_bytes" -> "B",
    "vector.load.s" -> "s", "vector.search.s" -> "s", "vector.search.jobs" -> "count",
    "vector.search.cpu_s" -> "s", "vector.search.rows_read" -> "count",
    "vector.search.shuffle_bytes" -> "B", "vector.recall_at_10" -> "ratio",
    "serve.untraced.s" -> "s",
    "setup.session.s" -> "s", "setup.found.s" -> "s", "setup.warmup.s" -> "s",
    "jvm.gc.s" -> "s", "jvm.jit.s" -> "s", "host.canary.s" -> "s", "trace.overhead.s" -> "s")

  /** Family-level samples kept in the result for reading, not for gating. */
  val Detail: Seq[(String, String)] = Seq(
    "dump_s" -> "s", "restore_s" -> "s", "archive_bytes_per_row" -> "B",
    "dump_rows_per_s" -> "rows/s", "ingest_batch_s" -> "s", "gate_batch_s" -> "s",
    "compact_s" -> "s", "ingest_docs_per_s" -> "rows/s", "store_bytes_per_doc" -> "B",
    "serve_batch_s" -> "s", "bm25_batch_s" -> "s", "vector_batch_s" -> "s",
    "found_round.s" -> "s", "inputs.s" -> "s", "timed.s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      scratch: Path, out: Path, spans: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(w == "fk_dump" || w == "stores", s"unknown workload $w (fk_dump | stores)")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("scratch")), Paths.get(need("out")), m.get("spans").map(Paths.get(_)))
  }

  /** The session every run uses: the CLI's conf (`Cli.session`) at a fixed
    * size — `local[Threads]` with as many shuffle partitions — plus scratch
    * directories kept inside the run's own directory.
    */
  def session(scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Threads]")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.scratch)
    try run(o, spark, t0) finally {
      val s0 = System.nanoTime()
      spark.stop()
      println(f"perfbench: session stopped in ${(System.nanoTime() - s0) / 1e9}%.2fs")
    }
  }

  def run(o: Opts, spark: SparkSession, t0: Long): Unit = {
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, o.trace)
    val ctx = new Ctx(spark, tracer, o.seed, o.scratch.resolve("work"))
    val families: Seq[Family] =
      if (o.trace) Seq(new DumpFamily(ctx), new IngestFamily(ctx), new ServeFamily(ctx))
      else if (o.workload == "fk_dump") Seq(new DumpFamily(ctx))
      else Seq(new IngestFamily(ctx), new ServeFamily(ctx))

    val g0 = System.nanoTime()
    families.foreach(_.prepare())
    val genS = (System.nanoTime() - g0) / 1e9
    val foundS = (0 until foundRounds(o.trace)).map { r =>
      val t = System.nanoTime()
      families.foreach(_.found(r))
      (System.nanoTime() - t) / 1e9
    }

    val rec = new Rec
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var opId = 0L
    val counts = mutable.Map.empty[Family, Int].withDefaultValue(0)
    val heap = mutable.ArrayBuffer.empty[Double]
    var gcS = 0.0
    var jitS = 0.0
    var timedOps = 0

    def runOp(f: Family, into: Rec, timed: Boolean): Unit = {
      val i = counts(f)
      counts(f) = i + 1
      opId += 1
      attempted += 1
      val opRec = new Rec
      val gc0 = Jvm.gcSeconds()
      val jit0 = Jvm.jitSeconds()
      val fails =
        try f.op(i, opId, opRec)
        catch { case e: Exception => Seq(s"op threw ${e.getClass.getName}: ${e.getMessage}") }
      if (timed) {
        gcS += Jvm.gcSeconds() - gc0
        jitS += Jvm.jitSeconds() - jit0
        timedOps += 1
      }
      if (fails.nonEmpty) {
        failed += 1
        if (failures.size < 20) failures ++= fails.map(m => s"${f.getClass.getSimpleName} op $i: $m")
      } else {
        opRec.samples.foreach { case (k, vs) => vs.foreach(into.add(k, _)) }
        if (tracer.enabled) tracer.spans.iterator.filter(s => s != null && s.op == opId).foreach { s =>
          into.add(s"${s.name}.s", s.seconds)
          Counters.Names.foreach(c => into.add(s"${s.name}.$c", s.count(c)))
        }
      }
    }

    def round(into: Rec, timed: Boolean): Unit = {
      families.foreach(runOp(_, into, timed))
      heap += Jvm.liveHeapMb()
      if (o.trace) into.add("host.canary.s", Jvm.canary())
    }

    val w0 = System.nanoTime()
    (0 until WarmupRounds).foreach(_ => round(new Rec, timed = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    families.foreach(_.startTimed())
    tracer.recording = true

    println(f"perfbench: set-up done at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    var rounds = 0
    while (rounds < minRounds(o.trace) || System.nanoTime() < deadline) {
      round(rec, timed = true)
      rounds += 1
    }

    rec.add("inputs.s", genS)
    rec.add("timed.s", (System.nanoTime() - start) / 1e9)
    rec.add("setup.session.s", sessionS)
    rec.add("setup.found.s", Rec.median(foundS))
    foundS.foreach(rec.add("found_round.s", _))
    rec.add("setup.warmup.s", warmupS)
    rec.add("setup_s", sessionS + Rec.median(foundS) + warmupS)
    rec.add("peak_heap_mb", heap.max)
    rec.add("jvm.gc.s", gcS / math.max(timedOps, 1))
    rec.add("jvm.jit.s", jitS / math.max(timedOps, 1))
    rec.add("trace.overhead.s", tracer.overheadNs / 1e9 / math.max(timedOps, 1))
    families.foreach(_.finish(rec))
    Seq("store.append" -> "bytes_written", "store.compact" -> "bytes_rewritten").foreach {
      case (n, alias) => rec.samples.get(s"$n.out_bytes").foreach(_.foreach(rec.add(s"$n.$alias", _)))
    }
    if (!o.trace) EndToEnd.foreach { case (name, _, from) =>
      rec.samples.get(from(o.workload)).foreach(_.foreach(rec.add(name, _)))
    }

    o.spans.foreach(p => if (tracer.enabled) tracer.write(p, t0))
    val units = EndToEnd.map(e => e._1 -> e._2) ++
      Seq("setup_s" -> "s", "peak_heap_mb" -> "MiB") ++ PerLayer ++ Detail
    writeResult(o, rec, units, attempted, failed, failures.toSeq, rounds)
  }

  private def writeResult(o: Opts, rec: Rec, units: Seq[(String, String)], attempted: Int,
      failed: Int, failures: Seq[String], rounds: Int): Unit = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val metrics = units.flatMap { case (name, unit) =>
      rec.samples.get(name).filter(_.nonEmpty).map { xs =>
        val tail = Rec.tail(xs).map { case (p, pv) => s""", "p": $p, "p_value": ${num(pv)}""" }
          .getOrElse("")
        s"""${str(name)}: {"value": ${num(Rec.median(xs))}, "unit": ${str(unit)}, """ +
          s""""n": ${xs.size}$tail, "samples": [${xs.map(num).mkString(", ")}]}"""
      }
    }
    val json =
      s"""{"workload": ${str(o.workload)}, "seed": ${o.seed}, "trace": ${o.trace}, "rounds": $rounds,
         | "attempted": $attempted, "failed": $failed,
         | "failures": [${failures.map(str).mkString(", ")}],
         | "metrics": {${metrics.mkString(",\n  ")}}}
         |""".stripMargin
    Files.write(o.out, json.getBytes(StandardCharsets.UTF_8))
  }
}
