package graft.cli

import org.apache.spark.sql.SparkSession

import graft.sources.Dump

/** `graft-load` — the Spark-native analog of the reference's `xload`
  * console script (reference: /root/reference/xdump/cli/load.py:63).
  *
  * {{{
  * sbt "runMain graft.cli.LoadMain -i /dumps/d1 --target /data/restored -m truncate"
  * // live database target (batched JDBC writes in FK load order):
  * sbt "runMain graft.cli.LoadMain -i /dumps/d1 --jdbc-url jdbc:postgresql://host/db \
  *   --jdbc-user u --jdbc-password p -m truncate"
  * }}}
  *
  * Flags mirror the reference: `-i/--input` (the dump directory) and
  * `-m/--cleanup-method truncate|recreate` (load.py:17). The sink is a
  * directory of parquet tables (`--target`) or a live database
  * (`--jdbc-url …`). Filesystem target: `truncate` clears only the tables
  * being loaded (≙ TRUNCATE, reference postgresql.py:212); `recreate`
  * removes the whole target first (≙ recreate_database, reference
  * base.py:202 — which drops connections and re-creates, the filesystem
  * analog being a recursive delete). JDBC target: see Dump.loadIntoJdbc.
  * Loading follows manifest order and (filesystem target) replays sequence
  * state (Dump.loadInto).
  */
object LoadMain {

  private val Help =
    """usage: graft-load -i <dump dir or .zip> (--target <dir> | --jdbc-url <url>
      |         [--jdbc-user u --jdbc-password p --jdbc-driver d]
      |         [--recreate-database <name> [--jdbc-admin-url <url>]])
      |       [-m truncate|recreate] [-v | -vv]""".stripMargin

  def main(args: Array[String]): Unit = Cli.main("graft-load", Help, args)(check)(runWith)

  private val Known = Cli.Known(Set("input", "i", "target", "cleanup-method", "m",
    "recreate-database", "jdbc-admin-url")) ++ Cli.Jdbc ++ Cli.Verbosity

  /** `args` with every check that needs no Spark session. */
  private def check(args: Seq[String]): Cli.Opts = Cli.checked(args, Known) { opts =>
    opts.required("input", short = "i")
    Cli.usage(opts.value("target").isDefined || opts.value("jdbc-url").isDefined,
      "pass --target <dir> or --jdbc-url <url>")
    val cleanup = opts.value("cleanup-method", short = "m")
    cleanup.foreach(m => Cli.usage(Set("truncate", "recreate")(m),
      s"unknown cleanup method (use truncate|recreate): $m"))
    Cli.usage(opts.value("recreate-database").isEmpty || opts.value("jdbc-url").isDefined,
      "--recreate-database needs --jdbc-url")
    // A freshly recreated database is constraint-less: the cleanup method
    // is forced to "recreate" so the dumped PK/FK DDL and sequence
    // restarts replay onto it (the reference's initial_setup-on-load,
    // base.py:227). Any other -m is refused before the database is
    // touched: "truncate" would DELETE FROM tables that no longer exist,
    // aborting only after the original database was already destroyed.
    Cli.usage(opts.value("recreate-database").isEmpty || cleanup.forall(_ == "recreate"),
      s"-m ${cleanup.getOrElse("")} cannot combine with --recreate-database " +
        "(the database is already empty; only 'recreate' makes sense)")
    // Postgres cannot drop the database it is connected to, so the load
    // URL is never a valid admin connection there — require a DIFFERENT
    // maintenance URL explicitly instead of failing after terminating
    // every other session. Dialect routing follows the resolved driver
    // (same rule as JdbcAdmin/Jdbc), not the URL text.
    for (url <- opts.value("jdbc-url"); _ <- opts.value("recreate-database")
         if Cli.jdbcConfig(opts, url).driver.contains("postgresql")) {
      val admin = opts.value("jdbc-admin-url")
      Cli.usage(admin.nonEmpty,
        "--recreate-database on PostgreSQL needs --jdbc-admin-url " +
          "pointing at a maintenance database (e.g. .../postgres) — " +
          "an engine cannot drop the database it is connected to")
      Cli.usage(!admin.contains(url),
        "--jdbc-admin-url must point at a DIFFERENT (maintenance) " +
          "database than --jdbc-url — PostgreSQL cannot drop the " +
          "database it is connected to")
    }
  }

  def run(args: Seq[String], spark: SparkSession): Unit = runWith(check(args), spark)

  private def runWith(opts: Cli.Opts, spark: SparkSession): Unit = {
    Cli.setVerbosity(opts)
    val rawInput = opts.required("input", short = "i")
    // A .zip input (DumpMain --archive) is unpacked next to itself first —
    // the reference loads straight from its zip archive (base.py:220) —
    // and the extraction directory is deleted after the load.
    val unzipDir =
      if (!rawInput.endsWith(".zip")) None
      else Some(java.nio.file.Files.createTempDirectory("graft_unzip").toString)
    unzipDir.foreach(dir => Dump.unarchive(spark, rawInput, dir))
    val input = unzipDir.getOrElse(rawInput)
    try runOn(opts, input, spark)
    finally unzipDir.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def runOn(opts: Cli.Opts, input: String, spark: SparkSession): Unit = {
    // parsed once: the cleanup, the load and the summary line share it
    val manifest = Dump.readManifest(spark, input)
    opts.value("jdbc-url").foreach { url =>
      // --recreate-database <name>: database-level recreate before the load
      // (≙ xload -m recreate → backend.recreate_database(), load.py:34) —
      // drops connections, drops and re-creates the database itself, then
      // loads into the genuinely empty target. Postgres: point
      // --jdbc-admin-url at the maintenance database (you cannot drop the
      // db you are connected to); Derby: <name> is the database path.
      val recreatedDb = opts.value("recreate-database")
      val explicit = opts.value("cleanup-method", short = "m")
      recreatedDb.foreach { db =>
        val adminUrl = opts.value("jdbc-admin-url").getOrElse(url)
        graft.sources.JdbcAdmin.recreateDatabase(Cli.jdbcConfig(opts, adminUrl), db)
        println(s"Recreated database $db")
      }
      val cleanup = explicit.orElse(recreatedDb.map(_ => "recreate"))
      Dump.loadIntoJdbc(spark, input, Cli.jdbcConfig(opts, url), cleanup,
        restoreConstraints = true, restoreSequences = true, verifyCounts = true, manifest)
      println(s"Loaded ${manifest.loadOrder.size} tables into $url")
      return
    }

    val target = opts.required("target")
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    opts.value("cleanup-method", short = "m") match {
      case Some("recreate") =>
        fs.delete(tp, true)
      case Some("truncate") =>
        manifest.loadOrder.foreach { t =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$target/$t.parquet"), true)
        }
      case _ => ()
    }

    Dump.loadInto(spark, input, target, manifest)
    println(s"Loaded ${manifest.loadOrder.size} tables into $target")
  }
}
