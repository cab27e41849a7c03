package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Catalog, ForeignKey}
import graft.operators.Closure
import graft.sources.{Dump, DumpSpec}

class DumpSpecTest extends SparkSpec {
  private lazy val cat = Catalog.tpch(spark, sfDir)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

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
    // a parquet dump restores by file copy, a csv dump by a Spark copy:
    // both verify against the manifest
    for (format <- Seq("parquet", "csv")) {
      Dump.write(cat, DumpSpec(fullTables = Seq("region", "nation"), format = format), s"$dir/$format")
      // simulate a truncated dump: overwrite nation's data with a 5-row
      // subset (the remainder reads back cleanly in any format — only the
      // manifest's write-time count knows rows are missing)
      cat.table("nation").limit(5).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("header", "true").format(format)
        .save(s"$dir/$format/data/nation")
      val e = intercept[RuntimeException] {
        Dump.loadInto(spark, s"$dir/$format", s"$dir/t_$format")
      }
      assert(e.getMessage.contains("manifest recorded"), s"$format: ${e.getMessage}")
    }

    // the JDBC load path verifies identically
    val db = java.nio.file.Files.createTempDirectory("graft_derby_vc").toString + "/db"
    val cfg = graft.sources.JdbcConfig(
      url = s"jdbc:derby:$db;create=true", user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val e2 = intercept[RuntimeException] {
      Dump.loadIntoJdbc(spark, s"$dir/parquet", cfg)
    }
    assert(e2.getMessage.contains("manifest recorded"), e2.getMessage)
  }

  test("job budget: the dump round trip runs only data-moving Spark jobs") {
    val dir = tmp()
    val fresh = Catalog.tpch(spark, sfDir)
    // a catalog resolves a table's schema once, from a footer read on the
    // driver; later reads pin it
    assert(jobsOf(fresh.table("nation").schema) === 0)
    assert(jobsOf(fresh.table("nation").schema) === 0)
    assert(jobsOf(fresh.withPrimaryKeys().table("nation").schema) === 0)
    // FK-closed among themselves (supplier → nation → region; part has no
    // FK), so the closure pulls nothing: one spool job per table
    val full = Seq("region", "nation", "supplier", "part")
    full.foreach(fresh.table(_).schema)
    assert(jobsOf(Dump.write(fresh, DumpSpec(fullTables = full), s"$dir/d")) === full.size)
    assert(jobsOf(Dump.readManifest(spark, s"$dir/d")) === 0)
    // a parquet dump's tables are copied on the driver: no job
    assert(jobsOf(Dump.loadInto(spark, s"$dir/d", s"$dir/t")) === 0)
    // a csv dump's: one Spark copy job per table and nothing else
    Dump.write(fresh, DumpSpec(fullTables = full, format = "csv"), s"$dir/c")
    assert(jobsOf(Dump.loadInto(spark, s"$dir/c", s"$dir/s")) === full.size)
    for (t <- full)
      assert(spark.read.parquet(s"$dir/t/$t.parquet").collect().toSet ===
        spark.read.parquet(s"$dir/s/$t.parquet").collect().toSet, t)
    assert(jobsOf(Dump.sequencesOf(spark, s"$dir/t")) === 0)
    assert(Dump.sequencesOf(spark, s"$dir/t").schema.map(f => f.name -> f.dataType.sql) ===
      Seq("table_name" -> "STRING", "seq_value" -> "BIGINT"))
  }

  test("archive, unarchive and a parquet restore start no OS process") {
    val dir = tmp()
    val full = Seq("region", "nation", "supplier")
    Dump.write(cat, DumpSpec(fullTables = full), s"$dir/d")
    assert(forksOf(Dump.archive(spark, s"$dir/d", s"$dir/d.zip")) === 0)
    assert(forksOf(Dump.unarchive(spark, s"$dir/d.zip", s"$dir/u")) === 0)
    assert(forksOf(Dump.loadInto(spark, s"$dir/u", s"$dir/t")) === 0)
    // a restore over an existing target replaces each table's files
    Dump.loadInto(spark, s"$dir/u", s"$dir/t")
    for (t <- full)
      assert(spark.read.parquet(s"$dir/t/$t.parquet").count() === cat.table(t).count(), t)
    assert(Dump.sequencesOf(spark, s"$dir/t").count() === full.size)
  }

  /** A parquet catalog of a manager tree of depth `depth`: 2^depth - 1
    * customers, `c_mgrkey = c_custkey / 2` (null at the root), and one
    * order per leaf.
    */
  private def treeCatalog(depth: Int): Catalog = {
    val dir = tmp()
    val leaves = 1L << (depth - 1)
    spark.range(1, 2 * leaves).select(col("id").as("c_custkey"),
        concat(lit("c"), col("id")).as("c_name"),
        when(col("id") >= 2, floor(col("id") / 2)).as("c_mgrkey"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(0, leaves).select(col("id").as("o_orderkey"),
        (col("id") + leaves).as("o_custkey"))
      .write.parquet(s"$dir/orders.parquet")
    new Catalog(spark, dir, Seq("customer", "orders"),
      Seq(ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
        ForeignKey("customer", "c_mgrkey", "customer", "c_custkey")),
      Map("customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey")))
  }

  test("job budget: a self-FK closure runs as many jobs at any hierarchy depth") {
    val closureJobs = for (depth <- Seq(3, 6, 10)) yield {
      val tree = treeCatalog(depth)
      val customer = tree.table("customer")
      val leaf = customer.where(col("c_custkey") === (1L << depth) - 1)
      var closed: DataFrame = null
      val jobs = jobsOf {
        closed = Closure.recursiveClosure(customer, leaf,
          tree.foreignKeysOf("customer", recursive = true).head, Seq("c_custkey"))
      }
      assert(closed.count() === depth, s"a leaf and its ancestors at depth $depth")
      jobs
    }
    assert(closureJobs.max - closureJobs.min <= 1, closureJobs)

    // depth 6: the order's spool (its customer keys ride it), the
    // edge-list collect (the customers are pulled on their PK alone, so
    // the walk starts from those keys) and the customers' spool
    val tree = treeCatalog(6)
    val seed = tree.table("orders").where(col("o_orderkey") === 0)
    val dir = tmp()
    val jobs = jobsOf(Dump.write(tree, DumpSpec(partialTables = Map("orders" -> seed)), dir))
    assert(jobs === 3)
    assert(Dump.readManifest(spark, dir).rows === Map("orders" -> 1L, "customer" -> 6L))
  }

  test("job budget: a TPC-H-shaped dump runs one job per table plus the edge-list collect") {
    // the seven TPC-H tables with a c_mgrkey self-FK: a manager tree
    // (c_custkey / 2) of about eight levels over the customers
    val base = Catalog.tpch(spark, sfDir)
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    val custKey = base.table("customer").schema("c_custkey").dataType
    val tpch = new Catalog(spark, sfDir, tables,
      base.foreignKeys.filter(fk => tables.contains(fk.table)) :+
        ForeignKey("customer", "c_mgrkey", "customer", "c_custkey"),
      base.primaryKeys.filter(p => tables.contains(p._1)),
      reader = Some {
        case "customer" => base.table("customer").withColumn("c_mgrkey",
          when(col("c_custkey") >= 2, floor(col("c_custkey") / 2)).cast(custKey))
        case t => base.table(t)
      })
    tables.foreach(tpch.table(_).schema)
    val spec = DumpSpec(partialTables = Map(
      "lineitem" -> tpch.table("lineitem").where(col("l_orderkey") % 40 === 0)))
    val dir = tmp()
    // one spool per table; every pull runs from the key sets its source's
    // spool observed, and the customers' walk starts from the orders' keys
    assert(jobsOf(Dump.write(tpch, spec, dir)) === tables.size + 1)
    assert(Dump.readManifest(spark, dir).loadOrder.toSet === tables.toSet)
    def dataFiles(d: String, t: String) =
      new java.io.File(s"$d/data/$t").listFiles().map(_.getName).filter(_.startsWith("part-"))
    tables.foreach(t => assert(dataFiles(dir, t).length === 1, s"$t: ${dataFiles(dir, t).toSeq}"))

    // the semi-join path (gate -1) dumps the same rows
    val joined = tmp()
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(Dump.write(tpch, spec, joined))
    assert(Dump.readManifest(spark, joined).rows === Dump.readManifest(spark, dir).rows)
    tables.foreach { t =>
      def rows(d: String) = spark.read.parquet(s"$d/data/$t").collect().map(_.toString).sorted.toSeq
      assert(rows(dir) === rows(joined), t)
    }
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
    // the manifest is written without a Hadoop checksum sidecar, so the
    // edits below need not bypass one
    assert(!Files.exists(Paths.get(dir, ".manifest.json.crc")))
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
