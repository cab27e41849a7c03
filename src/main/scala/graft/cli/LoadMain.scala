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

  def main(args: Array[String]): Unit = {
    val spark = Cli.session("graft-load")
    try run(args.toSeq, spark)
    finally spark.stop()
  }

  def run(args: Seq[String], spark: SparkSession): Unit = {
    val opts = Cli.parse(args)
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
      // A freshly recreated database is constraint-less: the cleanup
      // method is forced to "recreate" so the dumped PK/FK DDL and
      // sequence restarts replay onto it (the reference's
      // initial_setup-on-load, base.py:227). Any other -m is refused —
      // BEFORE the database is touched: "truncate" would DELETE FROM
      // tables that no longer exist, aborting only after the original
      // database was already destroyed.
      val explicit = opts.value("cleanup-method", short = "m")
      if (recreatedDb.isDefined && !explicit.forall(_ == "recreate")) sys.error(
        s"-m ${explicit.get} cannot combine with --recreate-database " +
          "(the database is already empty; only 'recreate' makes sense)")
      recreatedDb.foreach { db =>
        // Postgres cannot drop the database it is connected to, so the
        // load URL is never a valid admin connection there — require a
        // DIFFERENT maintenance URL explicitly instead of failing after
        // terminating every other session. Dialect routing follows the
        // resolved driver (same rule as JdbcAdmin/Jdbc), not the URL text.
        val isPg = Cli.jdbcConfig(opts, url).driver.contains("postgresql")
        val adminUrl = opts.value("jdbc-admin-url") match {
          case Some(a) if isPg && a == url => sys.error(
            "--jdbc-admin-url must point at a DIFFERENT (maintenance) " +
              "database than --jdbc-url — PostgreSQL cannot drop the " +
              "database it is connected to")
          case Some(a) => a
          case None if isPg => sys.error(
            "--recreate-database on PostgreSQL needs --jdbc-admin-url " +
              "pointing at a maintenance database (e.g. .../postgres) — " +
              "an engine cannot drop the database it is connected to")
          case None => url
        }
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
      case Some(other) =>
        sys.error(s"unknown cleanup method (use truncate|recreate): $other")
      case None => ()
    }

    Dump.loadInto(spark, input, target, manifest)
    println(s"Loaded ${manifest.loadOrder.size} tables into $target")
  }
}
