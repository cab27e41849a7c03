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

  def main(args: Array[String]): Unit = {
    val spark = Cli.session("graft-dump")
    try run(args.toSeq, spark)
    finally spark.stop()
  }

  def run(args: Seq[String], spark: SparkSession): Unit = {
    val opts = Cli.parse(args)
    Cli.setVerbosity(opts)
    val output = opts.required("output", short = "o")
    val catalog = Cli.catalogFrom(spark, opts)

    // Partial selections are SQL over the source tables, registered as views
    // (reference format "table:select SQL", cli/dump.py:16).
    catalog.tables.foreach(t => catalog.table(t).createOrReplaceTempView(t))
    val partial = opts.multi("partial", short = "p").map { spec =>
      val (t, sql) = Cli.splitOnce(spec, ':',
        s"""partial table specification should be "table:select SQL": $spec""")
      t -> spark.sql(sql)
    }.toMap

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
      value(name, short).getOrElse(sys.error(s"missing required option --$name"))
  }

  private val Valued = Set("source", "output", "o", "full", "f", "partial", "p",
    "compression", "c", "format", "fk", "pk", "input", "i", "cleanup-method", "m",
    "target", "jdbc-url", "jdbc-user", "jdbc-password", "jdbc-driver",
    "jdbc-schema", "recreate-database", "jdbc-admin-url", "archive-compression",
    "stores", "found", "batch", "watch", "checkpoint", "watch-schema",
    "vacuum-every")

  /** `extraValued`: option names that take a value FOR THIS MAIN only —
    * the shared `Valued` set cannot carry a name whose arity differs
    * across mains (IngestMain's `--append` is a flag; IndexMain's takes
    * a batch path).
    */
  def parse(args: Seq[String], extraValued: Set[String] = Set.empty): Opts = {
    var values = Map.empty[String, Seq[String]].withDefaultValue(Nil)
    var flags = Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) {
      val key = rest.head.dropWhile(_ == '-')
      rest = rest.tail
      if (Valued(key) || extraValued(key)) {
        require(rest.nonEmpty, s"option --$key needs a value")
        values += key -> (values(key) :+ rest.head)
        rest = rest.tail
      } else flags += key
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
      case -1 => sys.error(err)
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
