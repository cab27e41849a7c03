package graft.cli

import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, ForeignKey}
import graft.sources.{Dump, DumpSpec}

/** `graft-dump` — the Spark-native analog of the reference's `xdump`
  * console script (reference: /root/reference/xdump/cli/dump.py, setup.py:51).
  *
  * {{{
  * sbt "runMain graft.cli.DumpMain --source /data/tables -o /dumps/d1 \
  *   -f region -p 'orders:SELECT * FROM orders WHERE o_totalprice > 480000' \
  *   --fk orders.o_custkey=customer.c_custkey --pk orders=o_orderkey \
  *   -c zstd --format parquet"
  *
  * // live database source (FK/PK metadata introspected — ≙ the reference's
  * // -U/-P/-H/-N connection flags, cli/dump.py:29):
  * sbt "runMain graft.cli.DumpMain --jdbc-url jdbc:postgresql://host/db \
  *   --jdbc-user u --jdbc-password p -o /dumps/d1 \
  *   -f region -p 'orders:SELECT * FROM orders WHERE o_totalprice > 480000'"
  * }}}
  *
  * Flags mirror the reference CLI: `-o/--output`, `-f/--full` (repeatable),
  * `-p/--partial "table:select SQL"` (repeatable, cli/dump.py:16
  * parse_partial), `-c/--compression`, `--schema/--no-schema`,
  * `--data/--no-data`. The source is either `--source` (directory of
  * parquet tables, with explicit `--fk`/`--pk` metadata since parquet
  * carries no relational catalog) or `--jdbc-url [--jdbc-user
  * --jdbc-password --jdbc-driver --jdbc-schema --consistent]` (a live
  * database: FK/PK metadata comes from DatabaseMetaData introspection like
  * the reference's pg_catalog queries; `--fk`/`--pk` only ADD edges, e.g.
  * soft FKs the schema never declared). `--consistent` forces
  * single-connection table reads — see Jdbc.readTable's snapshot caveat;
  * `--consistent-snapshot` (Postgres) is the turnkey one-transaction dump:
  * a holder connection exports a server snapshot every partitioned read
  * attaches to, ≙ the reference's REPEATABLE READ dump transaction
  * (postgresql.py:66–81) with the parallel scan retained.
  */
object DumpMain {

  private val Help =
    """usage: graft-dump (--source <dir> | --jdbc-url <url> [--jdbc-user u --jdbc-password p
      |         --jdbc-driver d --jdbc-schema s --consistent | --consistent-snapshot])
      |       -o <dump dir> [-f <table>]... [-p "table:select SQL"]...
      |       [--fk table.col=ftable.fcol]... [--pk table=col]... [-c <codec>]
      |       [--format parquet|csv|jsonl|orc] [--no-schema] [--no-data]
      |       [--archive [--archive-compression <method>]] [-v | -vv]""".stripMargin

  def main(args: Array[String]): Unit = Cli.main("graft-dump", Help, args)(check)(runWith)

  private val Known = Cli.Known(
    Set("source", "output", "o", "full", "f", "partial", "p", "compression", "c",
      "format", "fk", "pk", "jdbc-schema", "archive-compression"),
    // --schema/--data: the reference's defaults, accepted for parity
    Set("schema", "no-schema", "data", "no-data", "archive", "consistent",
      "consistent-snapshot")) ++ Cli.Jdbc ++ Cli.Verbosity

  /** `args` with every check that needs no Spark session. */
  private def check(args: Seq[String]): Cli.Opts = Cli.checked(args, Known) { opts =>
    opts.required("output", short = "o")
    Cli.usage(opts.value("source").isDefined || opts.value("jdbc-url").isDefined,
      "pass --source <dir> or --jdbc-url <url>")
    opts.multi("partial", short = "p").foreach(partialSpec)
    Cli.parseFks(opts)
    Cli.parsePks(opts)
  }

  // Partial selections are SQL over the source tables (reference format
  // "table:select SQL", cli/dump.py:16).
  private def partialSpec(spec: String): (String, String) =
    Cli.splitOnce(spec, ':',
      s"""partial table specification should be "table:select SQL": $spec""")

  def run(args: Seq[String], spark: SparkSession): Unit = runWith(check(args), spark)

  private def runWith(opts: Cli.Opts, spark: SparkSession): Unit = {
    Cli.setVerbosity(opts)
    val output = opts.required("output", short = "o")
    val catalog = Cli.catalogFrom(spark, opts)

    // the source tables as views the partial selections' SQL reads
    catalog.tables.foreach(t => catalog.table(t).createOrReplaceTempView(t))
    val partial = opts.multi("partial", short = "p").map(partialSpec)
      .map { case (t, sql) => t -> spark.sql(sql) }.toMap

    try Dump.write(catalog, DumpSpec(
      fullTables = opts.multi("full", short = "f"),
      partialTables = partial,
      format = opts.value("format").getOrElse("parquet"),
      compression = opts.value("compression", short = "c").getOrElse("snappy"),
      dumpSchema = !opts.flag("no-schema"),
      dumpData = !opts.flag("no-data")), output)
    // releases the exported-snapshot holder (--consistent-snapshot) once
    // every dump action has run; no-op for other sources
    finally catalog.close()
    // Single-file convenience (≙ the reference's zip wire format) for small
    // dumps; the directory stays the scale artifact. --archive-compression
    // picks the entry method ≙ the reference's COMPRESSION_MAPPING
    // (stored | deflated | deflated:0-9 | bzip2 | lzma).
    if (opts.flag("archive")) Dump.archive(spark, output, s"$output.zip",
      opts.value("archive-compression").getOrElse("deflated"))
    println(s"Dumped ${(opts.multi("full", short = "f") ++ partial.keys).distinct.size}+ tables to $output" +
      (if (opts.flag("archive")) s" (+ $output.zip)" else ""))
  }
}

/** Shared CLI plumbing: flag parsing, session bootstrap, and catalog
  * construction from a directory of parquet tables plus declared FK/PK
  * metadata.
  */
object Cli {

  final case class Opts(values: Map[String, Seq[String]], flags: Set[String]) {
    def value(name: String, short: String = ""): Option[String] =
      values.get(name).orElse(values.get(short)).flatMap(_.headOption)
    def multi(name: String, short: String = ""): Seq[String] =
      values.getOrElse(name, values.getOrElse(short, Nil))
    def flag(name: String): Boolean = flags(name)
    def required(name: String, short: String = ""): String =
      value(name, short).getOrElse(throw new UsageError(s"missing required option --$name"))
  }

  /** A command line a main refuses: a missing or malformed option, or
    * `--help` (empty message).
    */
  final class UsageError(message: String) extends IllegalArgumentException(message)

  /** Throws a [[UsageError]] with `message` unless `ok`. */
  def usage(ok: Boolean, message: => String): Unit =
    if (!ok) throw new UsageError(message)

  /** A main's options: `valued` names take the next argument, `flags`
    * stand alone; `--help`/`-h` are always known. */
  final case class Known(valued: Set[String], flags: Set[String] = Set.empty) {
    def ++(o: Known): Known = Known(valued ++ o.valued, flags ++ o.flags)
  }

  val Jdbc = Known(Set("jdbc-url", "jdbc-user", "jdbc-password", "jdbc-driver"))
  val Verbosity = Known(Set.empty, Set("v", "vv"))

  /** `args` parsed against `known` and passed through `check`; an
    * unknown or malformed option, a failed check or `--help`/`-h` throws
    * a [[UsageError]].
    */
  def checked(args: Seq[String], known: Known)(check: Opts => Unit): Opts = {
    val opts = parse(args, known)
    usage(!opts.flag("help") && !opts.flag("h"), "")
    check(opts)
    opts
  }

  /** A main's body. `parse` checks the arguments before any Spark session
    * starts: on a [[UsageError]] the message and `help` go to standard
    * error and the process exits with code 2. Otherwise `run` gets the
    * options and a fresh session, stopped after.
    */
  def main(name: String, help: String, args: Array[String])(parse: Seq[String] => Opts)(
      run: (Opts, SparkSession) => Unit): Unit = {
    val opts =
      try parse(args.toSeq)
      catch {
        case e: UsageError =>
          if (e.getMessage.nonEmpty) System.err.println(s"$name: ${e.getMessage}")
          System.err.println(help)
          sys.exit(2)
      }
    val spark = session(name)
    try run(opts, spark)
    finally spark.stop()
  }

  /** `args` as options and flags. An argument that is not an option in
    * `known` — a misspelt `--no-schmea`, a stray positional — is refused,
    * never taken as a flag nobody reads.
    */
  def parse(args: Seq[String], known: Known): Opts = {
    var values = Map.empty[String, Seq[String]].withDefaultValue(Nil)
    var flags = Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) {
      val key = rest.head.dropWhile(_ == '-')
      if (known.valued(key)) {
        usage(rest.tail.nonEmpty, s"option --$key needs a value")
        values += key -> (values(key) :+ rest.tail.head)
        rest = rest.tail.tail
      } else {
        usage(known.flags(key) || key == "help" || key == "h", s"unknown option ${rest.head}")
        flags += key
        rest = rest.tail
      }
    }
    Opts(values, flags)
  }

  /** The reference CLI's `-v`/`-vv` verbosity (xdump setup.py console
    * scripts pass click counts into logging.py:10): `-v` = step timings,
    * `-vv` = every executed SQL statement too ([[graft.sources.QueryLog]]).
    */
  def setVerbosity(opts: Opts): Unit =
    graft.sources.QueryLog.verbosity =
      if (opts.flag("vv")) 2 else if (opts.flag("v")) 1 else 0

  def splitOnce(s: String, sep: Char, err: => String): (String, String) =
    s.indexOf(sep) match {
      case -1 => throw new UsageError(err)
      case i  => (s.take(i).trim, s.drop(i + 1).trim)
    }

  def session(name: String): SparkSession = SparkSession.builder()
    .appName(name)
    .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** JdbcConfig from `--jdbc-*` flags (url is `opts.value("jdbc-url")`). */
  def jdbcConfig(opts: Opts, url: String): graft.sources.JdbcConfig = {
    val base = graft.sources.JdbcConfig(
      url = url,
      user = opts.value("jdbc-user").getOrElse(""),
      password = opts.value("jdbc-password").getOrElse(""))
    opts.value("jdbc-driver").fold(base)(d => base.copy(driver = d))
  }

  /** Source catalog: a live database when `--jdbc-url` is given (metadata
    * introspected; `--fk`/`--pk` add edges on top), else the
    * `--source` parquet directory (metadata declared via `--fk`/`--pk`).
    */
  def catalogFrom(spark: SparkSession, opts: Opts): Catalog =
    opts.value("jdbc-url") match {
      case Some(url) =>
        Catalog.jdbc(spark, jdbcConfig(opts, url),
            schema = opts.value("jdbc-schema"),
            consistent = opts.flag("consistent"),
            consistentSnapshot = opts.flag("consistent-snapshot"))
          .withForeignKeys(parseFks(opts): _*)
          .withPrimaryKeys(parsePks(opts).toSeq: _*)
      case None => catalogFor(spark, opts.required("source"), opts)
    }

  private[cli] def parseFks(opts: Opts): Seq[ForeignKey] =
    opts.multi("fk").map { spec =>
      val (from, to) = splitOnce(spec, '=', s"--fk must be table.col=ftable.fcol: $spec")
      val (t, c) = splitOnce(from, '.', s"--fk must be table.col=ftable.fcol: $spec")
      val (ft, fc) = splitOnce(to, '.', s"--fk must be table.col=ftable.fcol: $spec")
      ForeignKey(t, c, ft, fc)
    }

  private[cli] def parsePks(opts: Opts): Map[String, Seq[String]] =
    opts.multi("pk").map { spec =>
      val (t, c) = splitOnce(spec, '=', s"--pk must be table=col: $spec")
      t -> Seq(c)
    }.toMap

  /** Catalog over `<source>/<table>.parquet` files. Tables are discovered
    * from the directory; FK edges come from repeatable
    * `--fk table.col=ftable.fcol`, primary keys from `--pk table=col`
    * (default: the table's first column — key-first layout).
    */
  def catalogFor(spark: SparkSession, source: String, opts: Opts): Catalog = {
    // TIMESTAMP(NANOS) parquet columns (e.g. events.ts) are rejected by
    // Spark 4 unless read as epoch-nanos longs — same as Catalog.tpch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = new org.apache.hadoop.fs.Path(source)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
    require(tables.nonEmpty, s"no <table>.parquet entries under $source")

    // one catalog: the schemas resolved for the default PKs stay pinned in
    // it (withPrimaryKeys keeps its reader), so the dump resolves no table
    // a second time
    val declaredPks = parsePks(opts)
    val catalog = new Catalog(spark, source, tables, parseFks(opts), declaredPks)
    catalog.withPrimaryKeys(tables.filterNot(declaredPks.contains).map(t =>
      t -> Seq(catalog.table(t).schema.fieldNames.head)): _*)
  }
}
