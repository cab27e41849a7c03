package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cluster-wide counters fed by Spark's listener bus. */
final class Counters extends SparkListener {
  import Counters._
  private val c = new AtomicLongArray(Names.length)

  override def onJobStart(e: SparkListenerJobStart): Unit = c.incrementAndGet(Jobs)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.incrementAndGet(Tasks)
    val m = e.taskMetrics
    if (m != null) {
      c.addAndGet(CpuNs, m.executorCpuTime)
      c.addAndGet(ShuffleBytes, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(RowsRead, m.inputMetrics.recordsRead)
      c.addAndGet(OutBytes, m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Array[Long] = Array.tabulate(Names.length)(c.get)
}

object Counters {
  val Names: Array[String] = Array("jobs", "tasks", "cpu_s", "shuffle_bytes", "rows_read", "out_bytes")
  val Jobs = 0
  val Tasks = 1
  val CpuNs = 2
  val ShuffleBytes = 3
  val RowsRead = 4
  val OutBytes = 5
}

/** One layer call: `deltas` are the [[Counters]] it moved. */
final case class Span(id: Int, name: String, op: Long, parent: Int,
    startNs: Long, endNs: Long, deltas: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(name: String): Double = {
    val i = Counters.Names.indexOf(name)
    if (name == "cpu_s") deltas(i) / 1e9 else deltas(i).toDouble
  }
}

/** Spans around calls into graft's public functions. Disabled, a span is
  * just its body: no listener is registered and nothing is recorded; enabled,
  * spans are recorded while [[recording]] is set (the timed rounds). Spans
  * stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters: Option[Counters] =
    if (enabled) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** Time spent in the tracer's own bookkeeping (bus drains, snapshots). */
  var overheadNs = 0L
  var recording = false
  /** Spans are being recorded: the families run their per-stage calls. */
  def active: Boolean = enabled && recording

  private def drained(c: Counters): Array[Long] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    c.snapshot()
  }

  def span[T](name: String, op: Long)(body: => T): T = counters match {
    case Some(c) if recording =>
      val b0 = System.nanoTime()
      val before = drained(c)
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      val start = System.nanoTime()
      overheadNs += start - b0
      try body
      finally {
        val end = System.nanoTime()
        val after = drained(c)
        stack = stack.tail
        spans(id) = Span(id, name, op, parent, start, end,
          Array.tabulate(before.length)(i => after(i) - before(i)))
        overheadNs += System.nanoTime() - end
      }
    case _ => body
  }

  /** Wall time of [start, end] not covered by `op`'s top-level spans. */
  def untraced(op: Long, startNs: Long, endNs: Long): Double = {
    val tops = spans.iterator.filter(s => s != null && s.op == op && s.parent < 0 &&
      s.startNs >= startNs && s.endNs <= endNs).map(_.seconds).sum
    (endNs - startNs) / 1e9 - tops
  }

  def write(path: java.nio.file.Path, t0: Long): Unit = {
    val lines = spans.iterator.filter(_ != null).map { s =>
      val counts = Counters.Names.indices.map(i =>
        s""""${Counters.Names(i)}": ${s.count(Counters.Names(i))}""").mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "op": ${s.op}, "parent": ${s.parent}, """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, $counts}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** JVM-wide counters: GC time, JIT compile time, heap live set. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)

  def gcSeconds(): Double = gcs.map(_.getCollectionTime).sum / 1e3
  def jitSeconds(): Double = jit.map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Heap in use right after a full collection, MiB. Two collections a
    * moment apart: after the first, Spark's context cleaner drops the
    * cached blocks and broadcasts of frames that died since the last round;
    * the second frees them, so the figure is the live set, not cleanup lag.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** A fixed pure-JVM CPU loop; its time tracks how busy the machine is. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 40000000) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Samples per metric name. */
final class Rec {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

object Rec {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it. */
  def tail(xs: collection.Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Some(p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }
}
