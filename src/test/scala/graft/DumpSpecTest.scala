package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.sources.{Dump, DumpSpec}

class DumpSpecTest extends SparkSpec {
  private lazy val cat = Catalog.tpch(spark, sfDir)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  /** Spark jobs started while `body` runs. The bus is drained before the
    * listener joins and before it is read, so no job of an earlier call
    * is counted and none of this one is missed.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("parquet dump is FK-closed and roundtrips") {
    val dir = tmp()
    val seed = cat.table("orders").where(col("o_totalprice") > 400000)
    Dump.write(cat, DumpSpec(
      fullTables = Seq("region"),
      partialTables = Map("orders" -> seed)), dir)

    val loaded = Dump.load(spark, dir).toMap
    // closure pulled orders → customer → nation
    assert(loaded.keySet === Set("region", "orders", "customer", "nation"))
    // the DDL-pinned read restores each table's schema exactly
    loaded.foreach { case (t, df) => assert(df.schema === cat.table(t).schema, t) }
    assert(loaded("region").count() === 5)
    assert(loaded("orders").count() === seed.count())
    // referential consistency: every o_custkey resolves
    val dangling = loaded("orders").select(col("o_custkey").as("k")).distinct()
      .join(loaded("customer"), col("k") === col("c_custkey"), "left_anti")
    assert(dangling.count() === 0)
    // manifest load order is dependency-first
    val order = Dump.load(spark, dir).map(_._1)
    assert(order.indexOf("nation") < order.indexOf("customer"))
    assert(order.indexOf("customer") < order.indexOf("orders"))
  }

  test("many full tables spool concurrently with correct manifest metrics") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(
      fullTables = Seq("region", "nation", "supplier", "part", "documents")), dir)
    val manifest = Dump.readManifest(spark, dir)
    // every table written whole, counts recorded by the concurrent writes
    Seq("region", "nation", "supplier", "part", "documents").foreach { t =>
      assert(manifest.rows(t) === cat.table(t).count(), s"row count for $t")
      assert(spark.read.parquet(s"$dir/data/$t").count() === cat.table(t).count())
    }
    // sequence state rode each concurrent write's observe()
    assert(manifest.sequences("region") === 4)
  }

  test("csv dump preserves schema via dumped DDL") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(
      fullTables = Seq("nation"),
      format = "csv"), dir)
    val loaded = Dump.load(spark, dir).toMap
    val orig = cat.table("nation")
    assert(loaded("nation").schema === orig.schema)
    assert(loaded("nation").count() === orig.count())
  }

  test("jsonl dump roundtrips rows and schema with gzip shards") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(
      fullTables = Seq("nation", "region"),
      format = "jsonl",
      compression = "gzip"), dir)
    val files = new java.io.File(s"$dir/data/nation").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), s"expected gzip parts, got ${files.toSeq}")
    val loaded = Dump.load(spark, dir).toMap
    for (t <- Seq("nation", "region")) {
      val orig = cat.table(t)
      assert(loaded(t).schema === orig.schema)
      assert(loaded(t).orderBy(orig.columns.head).collect().toSeq ===
        orig.orderBy(orig.columns.head).collect().toSeq)
    }
  }

  test("orc dump roundtrips rows and schema with zstd shards") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(
      fullTables = Seq("nation", "region"),
      format = "orc",
      compression = "zstd"), dir)
    val files = new java.io.File(s"$dir/data/nation").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zstd.orc")), s"expected zstd orc parts, got ${files.toSeq}")
    val loaded = Dump.load(spark, dir).toMap
    for (t <- Seq("nation", "region")) {
      val orig = cat.table(t)
      assert(loaded(t).schema === orig.schema)
      assert(loaded(t).orderBy(orig.columns.head).collect().toSeq ===
        orig.orderBy(orig.columns.head).collect().toSeq)
    }
  }

  test("csv dump honors the compression option (gzip) and roundtrips") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(
      fullTables = Seq("nation"),
      format = "csv",
      compression = "gzip"), dir)
    val files = new java.io.File(s"$dir/data/nation").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")), s"expected gzip parts, got ${files.toSeq}")
    val loaded = Dump.load(spark, dir).toMap
    assert(loaded("nation").count() === cat.table("nation").count())
  }

  test("loadInto writes target tables readable as parquet") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(fullTables = Seq("region", "nation")), s"$dir/d")
    Dump.loadInto(spark, s"$dir/d", s"$dir/t")
    assert(spark.read.parquet(s"$dir/t/nation.parquet").count() === 25)
  }

  test("a vanished dump shard aborts the load instead of restoring fewer rows") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(fullTables = Seq("region", "nation")), s"$dir/d")
    // simulate a truncated dump: overwrite nation's data with a 5-row
    // subset (the remainder reads back cleanly in any format — only the
    // manifest's write-time count knows rows are missing)
    cat.table("nation").limit(5).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/d/data/nation")

    val e = intercept[RuntimeException] {
      Dump.loadInto(spark, s"$dir/d", s"$dir/t")
    }
    assert(e.getMessage.contains("manifest recorded"), e.getMessage)

    // the JDBC load path verifies identically
    val db = java.nio.file.Files.createTempDirectory("graft_derby_vc").toString + "/db"
    val cfg = graft.sources.JdbcConfig(
      url = s"jdbc:derby:$db;create=true", user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val e2 = intercept[RuntimeException] {
      Dump.loadIntoJdbc(spark, s"$dir/d", cfg)
    }
    assert(e2.getMessage.contains("manifest recorded"), e2.getMessage)
  }

  test("job budget: the dump round trip runs only data-moving Spark jobs") {
    val dir = tmp()
    val fresh = Catalog.tpch(spark, sfDir)
    // a catalog resolves a table's schema once; later reads pin it
    assert(jobsOf(fresh.table("nation").schema) === 1)
    assert(jobsOf(fresh.table("nation").schema) === 0)
    assert(jobsOf(fresh.withPrimaryKeys().table("nation").schema) === 0)
    // FK-closed among themselves (supplier → nation → region; part has no
    // FK), so the closure pulls nothing: one spool job per table
    val full = Seq("region", "nation", "supplier", "part")
    full.foreach(fresh.table(_).schema)
    assert(jobsOf(Dump.write(fresh, DumpSpec(fullTables = full), s"$dir/d")) === full.size)
    assert(jobsOf(Dump.readManifest(spark, s"$dir/d")) === 0)
    // one copy job per table: no manifest parse or schema inference job
    assert(jobsOf(Dump.loadInto(spark, s"$dir/d", s"$dir/t")) === full.size)
    assert(jobsOf(Dump.sequencesOf(spark, s"$dir/t")) === 0)
    assert(Dump.sequencesOf(spark, s"$dir/t").schema.map(f => f.name -> f.dataType.sql) ===
      Seq("table_name" -> "STRING", "seq_value" -> "BIGINT"))
  }

  test("a failed full-table spool leaves no sibling write running") {
    val dir = tmp()
    val boom = udf { (x: Long) => if (x >= 0) throw new IllegalStateException("boom"); x }
    val slow = udf { (x: Long) => Thread.sleep(2000); x }
    // the failing table comes first and fails at once; its siblings are
    // still writing when it does, so an early rethrow would leave them
    // running into the dump directory
    val read: String => DataFrame = {
      case "bad" => spark.range(0, 1, 1, 1).select(boom(col("id")).as("id"))
      case _     => spark.range(0, 2, 1, 2).select(slow(col("id")).as("id"))
    }
    val tables = Seq("bad", "slow1", "slow2")
    val catalog = new Catalog(spark, dir, tables, Nil, tables.map(_ -> Seq("id")).toMap,
      reader = Some(read))
    val e = intercept[Exception] {
      Dump.write(catalog, DumpSpec(fullTables = tables), s"$dir/d")
    }
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
  }

  test("manifest errors name the manifest path: missing file") {
    val dir = tmp()
    val e = intercept[IllegalStateException](Dump.readManifest(spark, dir))
    assert(e.getMessage.contains(s"$dir/manifest.json"), e.getMessage)
    assert(e.getMessage.contains("cannot be read"), e.getMessage)
  }

  test("manifest errors name the manifest path: malformed JSON") {
    val dir = tmp()
    Files.writeString(Paths.get(dir, "manifest.json"), """{"format": "parquet", """)
    val e = intercept[IllegalStateException](Dump.readManifest(spark, dir))
    assert(e.getMessage.contains(s"$dir/manifest.json"), e.getMessage)
    assert(e.getMessage.contains("malformed JSON"), e.getMessage)
  }

  test("manifest errors name the manifest path and the missing field") {
    val dir = tmp()
    Dump.write(cat, DumpSpec(fullTables = Seq("region")), dir)
    val file = Paths.get(dir, "manifest.json")
    val good = Files.readString(file)
    // the edits below bypass Hadoop's local checksum file
    Files.delete(Paths.get(dir, ".manifest.json.crc"))
    Seq(
      "'format'" -> "\"format\": \"parquet\",",
      "'load_order'" -> "\"load_order\": \\[[^]]*\\],",
      "'tables'" -> ",\\s*\"tables\": \\[[^]]*\\]",
      "'tables[0].rows'" -> "\"rows\": \\d+, ",
      "'tables[0].sequence'" -> "\"sequence\": \\d+, "
    ).foreach { case (field, text) =>
      val broken = good.replaceFirst(text, "")
      assert(broken !== good, s"$text not in $good")
      Files.writeString(file, broken)
      val e = intercept[IllegalStateException](Dump.readManifest(spark, dir))
      assert(e.getMessage.contains(file.toString), e.getMessage)
      assert(e.getMessage.contains(s"missing field $field"), e.getMessage)
    }
  }

  test("splitSqlStatements: semicolons inside quoted regions do not split") {
    // the replay splitter must survive user-authored view/CHECK text —
    // literals with ';', escaped quotes, quoted identifiers
    assert(Dump.splitSqlStatements(
      "CREATE VIEW v AS SELECT * FROM t WHERE tag = 'a;b';\n" +
        "ALTER TABLE t ADD CONSTRAINT c CHECK (s IN ('x;y', 'it''s;ok'));")
      === Seq(
        "CREATE VIEW v AS SELECT * FROM t WHERE tag = 'a;b'",
        "ALTER TABLE t ADD CONSTRAINT c CHECK (s IN ('x;y', 'it''s;ok'))"))
    assert(Dump.splitSqlStatements("""SELECT 1 AS "a;b"; SELECT 2""")
      === Seq("""SELECT 1 AS "a;b"""", "SELECT 2"))
    // plain machine-generated DDL splits exactly as before
    assert(Dump.splitSqlStatements("A;\nB;\n\nC;") === Seq("A", "B", "C"))
    assert(Dump.splitSqlStatements("") === Seq.empty)
    // an unterminated literal keeps the tail intact rather than splitting
    assert(Dump.splitSqlStatements("SELECT 'a;b") === Seq("SELECT 'a;b"))
  }

  test("splitColumnList: quoted PK column names survive embedded commas") {
    // quoted-identifier support must reach past the classifier (r19
    // ADVICE): PRIMARY KEY ("a,b", c) is one quoted column + one bare,
    // not three comma fragments producing broken NOT NULL DDL
    assert(Dump.splitColumnList("\"a,b\", c") === Seq("\"a,b\"", "c"))
    assert(Dump.splitColumnList("id") === Seq("id"))
    assert(Dump.splitColumnList("a, b ,c") === Seq("a", "b", "c"))
    assert(Dump.splitColumnList("\"weird, name\"") === Seq("\"weird, name\""))
    assert(Dump.splitColumnList("\"q\", \"r,s\", t")
      === Seq("\"q\"", "\"r,s\"", "t"))
    // unbalanced quotes fail loudly instead of emitting broken DDL
    intercept[IllegalArgumentException] {
      Dump.splitColumnList("\"open, never closed")
    }
  }
}
