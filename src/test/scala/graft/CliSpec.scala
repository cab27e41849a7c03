package graft

import java.nio.file.Files

import graft.cli.{Cli, DumpMain, IndexMain, IngestMain, LoadMain}

class CliSpec extends SparkSpec {

  test("dump/load CLI roundtrip with reference-style flags") {
    val tmp = Files.createTempDirectory("graft_cli").toString
    DumpMain.run(Seq(
      "--source", sfDir,
      "-o", s"$tmp/dump",
      "-f", "region",
      "-p", "orders:SELECT * FROM orders WHERE o_totalprice > 480000",
      "--fk", "orders.o_custkey=customer.c_custkey",
      "--fk", "customer.c_nationkey=nation.n_nationkey",
      "--fk", "nation.n_regionkey=region.r_regionkey",
      "--pk", "orders=o_orderkey",
      "-c", "snappy"), spark)

    LoadMain.run(Seq("-i", s"$tmp/dump", "--target", s"$tmp/loaded"), spark)

    val loadedOrders = spark.read.parquet(s"$tmp/loaded/orders.parquet")
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .where("o_totalprice > 480000")
    assert(loadedOrders.count() === expected.count())
    // FK closure pulled the referenced customers
    val custs = spark.read.parquet(s"$tmp/loaded/customer.parquet").count()
    assert(custs > 0)
    // sequence state restored
    val seqs = graft.sources.Dump.sequencesOf(spark, s"$tmp/loaded")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seqs("orders") === expected.agg(org.apache.spark.sql.functions
      .max("o_orderkey")).head().getLong(0))

    // truncate cleanup: reload over existing target succeeds and keeps counts
    LoadMain.run(Seq("-i", s"$tmp/dump", "--target", s"$tmp/loaded",
      "-m", "truncate"), spark)
    assert(spark.read.parquet(s"$tmp/loaded/orders.parquet").count() === expected.count())

    // recreate cleanup: target wiped then reloaded
    LoadMain.run(Seq("-i", s"$tmp/dump", "--target", s"$tmp/loaded",
      "-m", "recreate"), spark)
    assert(spark.read.parquet(s"$tmp/loaded/orders.parquet").count() === expected.count())
  }

  test("-v/-vv query-logging surface: timings at -v, executed SQL at -vv, silent by default") {
    import java.sql.DriverManager
    // reference parity: logging.py:10 + base.py:25/:32 behind the CLI's
    // click-count verbosity — -v logs step timings (INFO), -vv also logs
    // every SQL the engine executes against a live target (DEBUG).
    // Derby source with UPPERCASE identifiers (the case-folding caveat
    // the JDBC suites document).
    val tmp = Files.createTempDirectory("graft_cli_vlog").toString
    val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(DerbyDriver)
    def mkDb(n: String): String = {
      val db = s"$tmp/$n"
      val conn = DriverManager.getConnection(s"jdbc:derby:$db;create=true", "app", "app")
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE REGION (R_ID INT PRIMARY KEY, R_NAME VARCHAR(32))")
        st.execute("INSERT INTO REGION VALUES (1, 'emea'), (2, 'apac')")
        st.close()
      } finally conn.close()
      db
    }
    def capture(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
      new String(buf.toByteArray, "UTF-8")
    }
    val src = mkDb("src")
    def jdbcFlags(db: String) = Seq("--jdbc-url", s"jdbc:derby:$db",
      "--jdbc-user", "app", "--jdbc-password", "app",
      "--jdbc-driver", DerbyDriver)
    try {
      // default verbosity: silent
      val silent = capture(DumpMain.run(jdbcFlags(src) ++ Seq(
        "-o", s"$tmp/dump0", "-f", "REGION"), spark))
      assert(!silent.contains(" - XDump - "),
        s"default verbosity must stay silent:\n${silent.take(500)}")
      // -v: step timings, no statements
      val v1 = capture(DumpMain.run(jdbcFlags(src) ++ Seq(
        "-o", s"$tmp/dump1", "-f", "REGION", "-v"), spark))
      assert(v1.contains(" - XDump - INFO - Total execution time: "),
        s"-v must log the total dump time:\n${v1.take(500)}")
      assert(!v1.contains(" - XDump - DEBUG - "), "-v must not log statements")
      // -vv: every executed SQL against the live target (the truncate
      // cleanup's DELETE) plus per-statement timings
      val tgt = mkDb("tgt")
      val v2 = capture(LoadMain.run(jdbcFlags(tgt) ++ Seq(
        "-i", s"$tmp/dump1", "-m", "truncate", "-vv"), spark))
      assert(v2.contains(" - XDump - DEBUG - DELETE FROM REGION"),
        s"-vv must log the executed cleanup SQL:\n${v2.take(800)}")
      assert(v2.contains(" - XDump - INFO - Execution time: "),
        "-vv must keep per-statement timings")
      assert(v2.contains(" - XDump - INFO - Total execution time: "),
        "-vv must keep the total-time line")
    } finally graft.sources.QueryLog.verbosity = 0
  }

  test("run refuses a malformed command line before any job or write") {
    val tmp = Files.createTempDirectory("graft_cli_usage").toString
    def refused(main: (Seq[String], org.apache.spark.sql.SparkSession) => Unit,
        args: String*): String = {
      var message: String = null
      assert(jobsOf { message = intercept[Cli.UsageError](main(args, spark)).getMessage } === 0)
      message
    }
    val (dump, load, ingest, index) =
      (DumpMain.run _, LoadMain.run _, IngestMain.run _, IndexMain.run _)
    assert(refused(dump, "--help") === "")
    assert(refused(dump, "--source", sfDir, "-h") === "")
    assert(refused(dump, "--source", sfDir).contains("--output"))
    assert(refused(dump, "--source", sfDir, "-o").contains("needs a value"))
    assert(refused(dump, "-o", s"$tmp/d").contains("--source"))
    assert(refused(dump, "--source", sfDir, "-o", s"$tmp/d", "-p", "orders")
      .contains("table:select SQL"))
    assert(refused(dump, "--source", sfDir, "-o", s"$tmp/d", "--fk", "orders.o_custkey")
      .contains("--fk"))
    assert(refused(load, "--target", s"$tmp/t").contains("--input"))
    assert(refused(load, "-i", s"$tmp/d").contains("--target"))
    assert(refused(load, "-i", s"$tmp/d", "--target", s"$tmp/t", "-m", "wipe")
      .contains("truncate|recreate"))
    assert(refused(ingest, "--found", s"$tmp/c").contains("--stores"))
    assert(refused(ingest, "--stores", s"$tmp/s").contains("nothing to do"))
    assert(refused(ingest, "--stores", s"$tmp/s", "--batch", s"$tmp/b").contains("--output"))
    assert(refused(ingest, "--stores", s"$tmp/s", "--watch", s"$tmp/w", "-o", s"$tmp/o",
      "--vacuum-every", "0").contains("--vacuum-every"))
    assert(refused(index, "--vacuum").contains("exactly one"))
    assert(refused(index, "--bm25", s"$tmp/x", "--search", s"$tmp/q").contains("--output"))
    assert(refused(index, "--vectors", s"$tmp/x", "--found", s"$tmp/c", "--k", "ten")
      .contains("--k"))
    assert(new java.io.File(tmp).list().isEmpty, "a refused command line wrote nothing")
  }

  /** `args` refused by `main` as naming an unknown option `bad`, with no
    * Spark job started and nothing written under `tmp`. */
  private def refusesUnknown(tmp: String, bad: String,
      main: (Seq[String], org.apache.spark.sql.SparkSession) => Unit, args: String*): Unit = {
    var message: String = null
    assert(jobsOf { message = intercept[Cli.UsageError](main(args, spark)).getMessage } === 0)
    assert(message === s"unknown option $bad")
    assert(new java.io.File(tmp).list().isEmpty, "a refused command line wrote nothing")
  }

  test("graft-dump refuses a misspelt option instead of ignoring it") {
    val tmp = Files.createTempDirectory("graft_cli_unknown_dump").toString
    refusesUnknown(tmp, "--no-schmea", DumpMain.run _,
      "--source", sfDir, "-o", s"$tmp/d", "-f", "region", "--no-schmea")
  }

  test("graft-load refuses a misspelt option instead of ignoring it") {
    val tmp = Files.createTempDirectory("graft_cli_unknown_load").toString
    refusesUnknown(tmp, "--cleanup-methd", LoadMain.run _,
      "-i", s"$tmp/d", "--target", s"$tmp/t", "--cleanup-methd", "truncate")
  }

  test("graft-ingest refuses a misspelt option instead of ignoring it") {
    val tmp = Files.createTempDirectory("graft_cli_unknown_ingest").toString
    refusesUnknown(tmp, "--vacum-every", IngestMain.run _,
      "--stores", s"$tmp/s", "--vacuum", "--vacum-every", "2")
  }

  test("graft-index refuses a misspelt option instead of ignoring it") {
    val tmp = Files.createTempDirectory("graft_cli_unknown_index").toString
    refusesUnknown(tmp, "--compcat", IndexMain.run _,
      "--bm25", s"$tmp/x", "--vacuum", "--compcat")
  }

  test("archived dump is one zip that loads back identically") {
    val tmp = Files.createTempDirectory("graft_cli_zip").toString
    DumpMain.run(Seq(
      "--source", sfDir,
      "-o", s"$tmp/dump",
      "-f", "region",
      "-p", "orders:SELECT * FROM orders WHERE o_totalprice > 480000",
      "--fk", "orders.o_custkey=customer.c_custkey",
      "--archive"), spark)
    assert(new java.io.File(s"$tmp/dump.zip").isFile)

    // load straight from the zip
    LoadMain.run(Seq("-i", s"$tmp/dump.zip", "--target", s"$tmp/loaded"), spark)
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .where("o_totalprice > 480000").count()
    assert(spark.read.parquet(s"$tmp/loaded/orders.parquet").count() === expected)
  }

  test("archive compression choice: entry methods, size ordering, stored round-trip") {
    val tmp = Files.createTempDirectory("graft_cli_zipc").toString
    // csv + no codec ⇒ compressible payload, so the ordering is visible
    DumpMain.run(Seq(
      "--source", sfDir,
      "-o", s"$tmp/dump",
      "-f", "region", "-f", "nation",
      "--format", "csv", "-c", "none",
      "--archive", "--archive-compression", "stored"), spark)
    val D = graft.sources.Dump
    D.archive(spark, s"$tmp/dump", s"$tmp/deflated.zip")
    D.archive(spark, s"$tmp/dump", s"$tmp/max.zip", "deflated:9")
    def entries(p: String): Seq[java.util.zip.ZipEntry] = {
      val zf = new java.util.zip.ZipFile(p)
      try {
        val it = zf.entries(); val b = Seq.newBuilder[java.util.zip.ZipEntry]
        while (it.hasMoreElements) b += it.nextElement()
        b.result()
      } finally zf.close()
    }
    // entry methods follow the mapping (≙ reference COMPRESSION_MAPPING)
    assert(entries(s"$tmp/dump.zip").forall(_.getMethod === java.util.zip.ZipEntry.STORED))
    assert(entries(s"$tmp/deflated.zip").forall(_.getMethod === java.util.zip.ZipEntry.DEFLATED))
    assert(entries(s"$tmp/max.zip").forall(_.getMethod === java.util.zip.ZipEntry.DEFLATED))
    // stored entries are byte-for-byte (compressed == uncompressed size);
    // deflated strictly shrinks the text payload; level 9 never loses to
    // the default level
    assert(entries(s"$tmp/dump.zip").forall(e => e.getCompressedSize === e.getSize))
    def len(p: String) = new java.io.File(p).length()
    assert(len(s"$tmp/dump.zip") > len(s"$tmp/deflated.zip"))
    assert(len(s"$tmp/max.zip") <= len(s"$tmp/deflated.zip"))
    // a stored archive loads back identically (CRC/size headers correct)
    LoadMain.run(Seq("-i", s"$tmp/dump.zip", "--target", s"$tmp/loaded"), spark)
    assert(spark.read.parquet(s"$tmp/loaded/region.parquet").count() ===
      spark.read.parquet(s"$sfDir/region.parquet").count())
    // unknown names and bad levels fail loudly
    assertThrows[IllegalArgumentException] {
      D.archive(spark, s"$tmp/dump", s"$tmp/x.zip", "zpaq")
    }
    assertThrows[IllegalArgumentException] {
      D.archive(spark, s"$tmp/dump", s"$tmp/x.zip", "deflated:12")
    }
  }

  test("bzip2/lzma archives: foreign method ids, max-ratio tier, full load-back") {
    val tmp = Files.createTempDirectory("graft_cli_zipx").toString
    DumpMain.run(Seq(
      "--source", sfDir,
      "-o", s"$tmp/dump",
      "-f", "region", "-f", "nation",
      "--format", "csv", "-c", "none"), spark)
    val D = graft.sources.Dump
    D.archive(spark, s"$tmp/dump", s"$tmp/deflated.zip", "deflated:9")
    D.archive(spark, s"$tmp/dump", s"$tmp/bzip2.zip", "bzip2")
    D.archive(spark, s"$tmp/dump", s"$tmp/lzma.zip", "lzma")

    // the written entries carry the reference COMPRESSION_MAPPING's
    // foreign method ids (zip methods 12 / 14), with correct size
    // metadata — via the central-directory reader the JDK lacks
    def entries(p: String) = {
      val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
        .setFile(new java.io.File(p)).get()
      try {
        val it = zf.getEntries; val b = Seq.newBuilder[
          org.apache.commons.compress.archivers.zip.ZipArchiveEntry]
        while (it.hasMoreElements) b += it.nextElement()
        b.result()
      } finally zf.close()
    }
    val bz = entries(s"$tmp/bzip2.zip")
    val lz = entries(s"$tmp/lzma.zip")
    assert(bz.nonEmpty && bz.forall(_.getMethod === 12))
    assert(lz.nonEmpty && lz.forall(_.getMethod === 14))
    // size 0 is legitimate (_SUCCESS markers); the codec header still
    // makes the compressed payload non-empty
    assert(bz.exists(_.getSize > 0) && bz.forall(_.getCompressedSize > 0))
    assert(lz.exists(_.getSize > 0) && lz.forall(_.getCompressedSize > 0))

    // both occupy the max-ratio tier on the text payload: no larger than
    // the zlib-9 archive's total
    def len(p: String) = new java.io.File(p).length()
    assert(len(s"$tmp/bzip2.zip") <= len(s"$tmp/deflated.zip") * 11 / 10)
    assert(len(s"$tmp/lzma.zip") <= len(s"$tmp/deflated.zip"))

    // and the full dump → archive → unarchive → load cycle is exact for
    // both codecs (CRCs verified by the reader, CSVs byte-identical)
    for (codec <- Seq("bzip2", "lzma")) {
      LoadMain.run(Seq("-i", s"$tmp/$codec.zip", "--target", s"$tmp/loaded_$codec"), spark)
      assert(spark.read.parquet(s"$tmp/loaded_$codec/region.parquet").count() ===
        spark.read.parquet(s"$sfDir/region.parquet").count())
      assert(spark.read.parquet(s"$tmp/loaded_$codec/nation.parquet").count() ===
        spark.read.parquet(s"$sfDir/nation.parquet").count())
    }
  }

  test("unarchive CRC-checks extracted bytes and fails on a corrupted archive") {
    val tmp = Files.createTempDirectory("graft_cli_crc").toString
    new java.io.File(s"$tmp/dump").mkdirs()
    val payload = "THE-CANARY-PAYLOAD-0123456789-ABCDEFGHIJ"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/dump/t.csv"), payload)
    // stored = byte-identical payload in the archive, so a flipped byte
    // is caught ONLY by the CRC check (no codec to notice)
    graft.sources.Dump.archive(spark, s"$tmp/dump", s"$tmp/d.zip", "stored")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/d.zip"))
    val at = new String(bytes, "ISO-8859-1").indexOf("CANARY")
    assert(at > 0)
    bytes(at) = 'X'.toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/d.zip"), bytes)
    // drop Hadoop LocalFileSystem's .crc sidecar so the corruption
    // reaches OUR zip-level check (on HDFS/S3A there is no sidecar for
    // an archive corrupted at rest before upload)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$tmp/.d.zip.crc"))
    val ex = intercept[IllegalArgumentException] {
      graft.sources.Dump.unarchive(spark, s"$tmp/d.zip", s"$tmp/out")
    }
    assert(ex.getMessage.contains("CRC mismatch"))
  }

  test("unarchive refuses a zip-slip entry and writes nothing outside the target") {
    val tmp = Files.createTempDirectory("graft_cli_slip").toString
    val zp = s"$tmp/evil.zip"
    val out = new org.apache.commons.compress.archivers.zip.ZipArchiveOutputStream(
      new java.io.FileOutputStream(zp))
    try {
      val ok = new org.apache.commons.compress.archivers.zip.ZipArchiveEntry("fine.txt")
      out.putArchiveEntry(ok); out.write("benign".getBytes); out.closeArchiveEntry()
      val evil = new org.apache.commons.compress.archivers.zip.ZipArchiveEntry(
        "../escaped.txt")
      out.putArchiveEntry(evil); out.write("evil".getBytes); out.closeArchiveEntry()
    } finally out.close()
    val ex = intercept[IllegalArgumentException] {
      graft.sources.Dump.unarchive(spark, zp, s"$tmp/out")
    }
    assert(ex.getMessage.contains("escapes the extraction directory"))
    assert(!new java.io.File(s"$tmp/escaped.txt").exists())
    assert(!new java.io.File(tmp).getParentFile.listFiles()
      .exists(_.getName == "escaped.txt"))
  }

  test("schema-only dump writes DDL but no data") {
    val tmp = Files.createTempDirectory("graft_cli2").toString
    DumpMain.run(Seq(
      "--source", sfDir,
      "-o", s"$tmp/dump",
      "-f", "region",
      "--no-data"), spark)
    assert(new java.io.File(s"$tmp/dump/schema/region.sql").exists())
    assert(!new java.io.File(s"$tmp/dump/data/region").exists())
  }
}
