package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local session every harness main, tool and spec runs on. */
object GraftSession {

  /** Worker threads for the harness mains: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time, no UI
    * and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Timing, selection and JSON output shared by the harness mains. */
object Harness {

  /** `body`'s result and its wall time in seconds. */
  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds to build `df` and materialize it in full. The noop sink pays
    * every column and keeps final sorts; a `count()` would let Catalyst
    * prune columns and elide the ORDER BY. */
  def noop(df: => DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())._2

  /** One untimed warmup (JIT, codegen, parquet footer cache), then `reps`
    * timed [[noop]] runs. */
  def warmRuns(reps: Int)(df: => DataFrame): Seq[Double] = {
    noop(df)
    Seq.fill(reps)(noop(df))
  }

  /** The true median: an even count averages the two middle values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** A fresh temp directory named after `prefix`, deleted with its
    * contents when the JVM exits. Every store a harness run founds (a
    * registry entry's demo store, a ScaleCheck fixture or per-rep store)
    * comes from here, so a long run leaves no directory behind. */
  private[graft] def tempStore(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempStores.add(d)
    d
  }

  /** [[tempStore]]'s directories, reclaimed by one shutdown hook. */
  private lazy val tempStores: java.util.Set[String] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => s.forEach(rmTree(_))))
    s
  }

  /** Deletes `path` and everything under it, best effort: a missing path
    * or an undeletable file is skipped. */
  private[graft] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** The `items` named in the comma-separated `list`, in `items`' order;
    * every item when there is no list. Any unknown name fails the run and
    * is named with `source`, so a typo can never shrink a run silently. */
  def select[A](items: Seq[A], list: Option[String], source: String)(
      name: A => String): Seq[A] =
    list.fold(items) { l =>
      val wanted = l.split(",").toSet
      val unknown = wanted -- items.map(name)
      require(unknown.isEmpty,
        s"$source names unknown entries: ${unknown.toSeq.sorted.mkString(", ")}")
      items.filter(i => wanted(name(i)))
    }

  /** A JSON string literal: escapes the quote, the backslash and every
    * control character, so a tab or CR in SQL cannot break a reader. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
