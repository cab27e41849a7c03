package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Foreign-key edge: `table.column` references `foreignTable.foreignColumn`.
  *
  * Spark has no FK catalog, so the engine carries this metadata explicitly —
  * the analog of the reference's FK-introspection queries
  * (reference: xdump/postgresql.py:19 `BASE_RELATIONS_QUERY`,
  * xdump/sqlite.py:67 `PRAGMA foreign_key_list`).
  *
  * Composite FKs carry their trailing key parts in `moreColumns` (in
  * KEY_SEQ order); the closure then semi-joins on the WHOLE key tuple, so
  * the pull is exact — the reference's FK metadata is single-column only
  * (postgresql.py:19 joins on one attnum), so anything beyond `column` is
  * parity-plus.
  */
final case class ForeignKey(
    table: String,
    column: String,
    foreignTable: String,
    foreignColumn: String,
    moreColumns: Seq[(String, String)] = Nil) {
  /** Self-referencing FK (employee→manager style). */
  def isRecursive: Boolean = table == foreignTable

  /** All (column, foreignColumn) key parts, leading column first. */
  def columnPairs: Seq[(String, String)] = (column, foreignColumn) +: moreColumns
}

/** A named set of tables plus relational metadata (primary keys, foreign
  * keys). All accessors return lazy logical plans — nothing is scanned until
  * an action runs, so downstream filters/projections push into the source
  * scans.
  *
  * The storage side is pluggable via `reader`: the default reads
  * `<dir>/<table>.parquet`; `Catalog.jdbc` supplies a partitioned-JDBC
  * reader over a live database with FK/PK metadata introspected from the
  * server — the reference's actual deployment shape (point at a database,
  * get a consistent partial dump). Closure/Dump/TableGraph only ever see
  * `table(name)` + metadata, so every operator works identically over both.
  */
final class Catalog(
    @transient val spark: SparkSession,
    val dir: String,
    val tables: Seq[String],
    val foreignKeys: Seq[ForeignKey],
    val primaryKeys: Map[String, Seq[String]],
    // @transient like spark: the reader closure captures the session, and
    // the Serializable contract here only promises the METADATA survives —
    // table() is driver-side by construction (it builds logical plans).
    @transient private val reader: Option[String => DataFrame] = None,
    // driver-side resource pinning the catalog's consistency (the exported-
    // snapshot holder connection) — released by close()
    @transient private val resource: Option[AutoCloseable] = None,
    // schema-dump parity metadata (JDBC catalogs only): secondary indexes
    // and column DEFAULT expressions, carried into the dumped DDL
    val indexes: Map[String, Seq[graft.sources.IndexDef]] = Map.empty,
    val columnDefaults: Map[String, Map[String, String]] = Map.empty,
    // (view name, definition) in introspection order — dumped as CREATE
    // VIEW statements after indexes (the pg_dump -s order)
    val views: Seq[(String, String)] = Nil,
    // table → (constraint name, clause): CHECK constraints, dumped as
    // ALTER TABLE … ADD CONSTRAINT … CHECK and replayed after FKs
    val checks: Map[String, Seq[(String, String)]] = Map.empty,
    // table → column → native VARCHAR(n)/CHAR(n) — carried into the dump
    // so a recreate load re-creates bounded character columns instead of
    // the target dialect's unbounded string default (CLOB/TEXT)
    val columnSqlTypes: Map[String, Map[String, String]] = Map.empty)
    extends Serializable with AutoCloseable {

  // The reader in use: `reader`, else the parquet reader over `dir`.
  // Passed on by withForeignKeys/withPrimaryKeys, so a derived catalog
  // shares the schemas this one already resolved. Option(...).flatten: a
  // deserialized catalog has reader == null.
  @transient private lazy val read: String => DataFrame =
    Option(reader).flatten.getOrElse(Catalog.parquetReader(spark, dir))

  /** Table `name` as a lazy plan. A parquet-backed catalog resolves each
    * table's schema once, at the first call, from one data file's footer
    * read on the driver ([[ParquetFiles.schema]]: no Spark job for a flat
    * table directory), and pins it on every later read, so repeated
    * `table(t)` calls and the catalogs derived by
    * `withForeignKeys`/`withPrimaryKeys` neither run a job nor reopen a
    * footer. Rewriting a table with a different schema during
    * one catalog's life is outside this contract: later reads keep the
    * first schema. JDBC readers look the schema up over the driver
    * connection, which is no Spark job, and are not pinned.
    */
  def table(name: String): DataFrame = {
    require(tables.contains(name), s"unknown table: $name")
    read(name)
  }

  /** Exact row count WITHOUT a Spark job for parquet-backed tables: the
    * footer of every parquet file carries its block row counts, so the
    * count is a driver-side metadata read — what sizing hints like
    * [[graft.operators.Similarity.knnGraph]]'s `corpusHint` (which only
    * derives log₂-scale plane counts) should use instead of paying a
    * full count() action per invocation. JDBC-backed catalogs fall back
    * to `count()` — there is no cheaper exact answer through a driver.
    */
  def rowCount(name: String): Long = {
    require(tables.contains(name), s"unknown table: $name")
    // Probe the parquet path rather than branching on `reader`: the
    // parquet-backed catalogs (tpch included) wrap their scan in a reader
    // closure too, but row counts are reader-invariant — the closure only
    // normalizes column types. A catalog whose dir is not a filesystem
    // path (JDBC url), or a partitioned table (no DIRECT parquet children
    // — a silent 0 would feed corpusHint=0 into the LSH plane sizing),
    // lands in the count() fallback.
    scala.util.Try(ParquetFiles.rowCount(spark, s"$dir/$name.parquet")).toOption.flatten
      .getOrElse(table(name).count())
  }

  /** FKs out of `table`. Mirrors xdump's `get_foreign_keys(table, full_tables,
    * recursive)` (reference: xdump/base.py:150): edges into `excludeForeign`
    * tables are skipped (they are dumped whole anyway) and self-edges are
    * returned only when `recursive` is set.
    */
  def foreignKeysOf(
      table: String,
      excludeForeign: Set[String] = Set.empty,
      recursive: Boolean = false): Seq[ForeignKey] =
    foreignKeys.filter(fk =>
      fk.table == table && fk.isRecursive == recursive && !excludeForeign(fk.foreignTable))

  def primaryKey(name: String): Seq[String] =
    primaryKeys.getOrElse(name, sys.error(s"no primary key registered for $name"))

  def withForeignKeys(extra: ForeignKey*): Catalog =
    new Catalog(spark, dir, tables, foreignKeys ++ extra, primaryKeys, Some(read),
      resource, indexes, columnDefaults, views, checks, columnSqlTypes)

  def withPrimaryKeys(extra: (String, Seq[String])*): Catalog =
    new Catalog(spark, dir, tables, foreignKeys, primaryKeys ++ extra, Some(read),
      resource, indexes, columnDefaults, views, checks, columnSqlTypes)

  /** Releases any resource pinning this catalog's consistency (the exported-
    * snapshot holder of `Catalog.jdbc(consistentSnapshot = true)`). Reads
    * planned before but executed after close() lose the snapshot guarantee —
    * close only after the dump's actions have run. No-op otherwise.
    */
  override def close(): Unit = Option(resource).flatten.foreach(_.close())
}

object Catalog {

  /** Reader of `<dir>/<table>.parquet` that resolves each table's schema
    * at its first read ([[ParquetFiles.schema]], a driver-side footer
    * read) and pins it on every later one (`spark.read.schema`), then
    * applies `normalize`.
    */
  private def parquetReader(
      spark: SparkSession, dir: String,
      normalize: (String, DataFrame) => DataFrame = (_, df) => df): String => DataFrame = {
    val schemas = collection.concurrent.TrieMap.empty[String, StructType]
    name => {
      val path = s"$dir/$name.parquet"
      val schema = schemas.getOrElseUpdate(name, ParquetFiles.schema(spark, path))
      normalize(name, spark.read.schema(schema).parquet(path))
    }
  }

  /** Catalog over a live JDBC database — the reference's headline use case
    * (xdump/postgresql.py:66: point at a server, get a consistent partial
    * dump). Tables, primary keys and FK edges are introspected from the
    * server's metadata (Jdbc.introspect — the pg_catalog / PRAGMA analog),
    * so nothing is declared by hand; `Dump.write` then runs the same
    * FK-closure over partitioned JDBC scans it runs over parquet.
    *
    * Reads range-partition on the table's first PK column when it is
    * numeric (parallel scan across executors); `consistent = true` forces
    * every table onto a single connection instead — see the snapshot
    * caveat on [[graft.sources.Jdbc.readTable]].
    *
    * `consistentSnapshot = true` is the turnkey form of the reference's
    * one-transaction dump (xdump/postgresql.py:77) WITHOUT giving up the
    * parallel scan: a holder connection exports a server-side snapshot
    * ([[graft.sources.Jdbc.exportedSnapshot]], Postgres-only) and every
    * partitioned read connection attaches to it via its init statement, so
    * all partitions of all tables read one point-in-time state. The holder
    * stays open inside the catalog — `close()` it when the dump's actions
    * have completed.
    */
  def jdbc(
      spark: SparkSession,
      cfg: graft.sources.JdbcConfig,
      schema: Option[String] = None,
      consistent: Boolean = false,
      consistentSnapshot: Boolean = false): Catalog =
    jdbcWith(spark, cfg, schema, consistent, consistentSnapshot,
      graft.sources.Jdbc.exportedSnapshot)

  /** [[jdbc]] with the snapshot provider injectable — the seam that lets the
    * wiring be spec-tested against engines without `pg_export_snapshot`
    * (embedded Derby): everything downstream of the provider (config
    * rewrite, reader propagation, holder lifecycle) is identical.
    */
  private[graft] def jdbcWith(
      spark: SparkSession,
      cfg: graft.sources.JdbcConfig,
      schema: Option[String],
      consistent: Boolean,
      consistentSnapshot: Boolean,
      snapshotProvider: graft.sources.JdbcConfig => graft.sources.SnapshotHolder)
      : Catalog = {
    val holder = if (consistentSnapshot) Some(snapshotProvider(cfg)) else None
    try {
      val effCfg = holder.fold(cfg)(_.config(cfg))
      val meta = graft.sources.Jdbc.introspect(effCfg, schema)
      val read = (t: String) => graft.sources.Jdbc.readTable(
        spark, effCfg, meta.qualifiedNames.getOrElse(t, t),
        partitionColumn = if (consistent) None else meta.partitionColumns.get(t))
      new Catalog(spark, effCfg.url, meta.tables, meta.foreignKeys, meta.primaryKeys,
        Some(read), holder, meta.indexes, meta.columnDefaults, meta.views,
        meta.checks, meta.columnSqlTypes)
    } catch {
      // introspection failed after the snapshot opened: release the holder
      // connection rather than leaking its open transaction
      case e: Throwable =>
        holder.foreach(h => try h.close() catch { case _: Throwable => () })
        throw e
    }
  }

  /** The TPC-H-ish test schema (TESTDATA.md) with its natural FK graph. */
  def tpch(spark: SparkSession, dir: String): Catalog = {
    // events.ts has shipped both as parquet TIMESTAMP(NANOS) — which Spark 4
    // refuses unless read as an epoch-nanos long — and as TIMESTAMP(MICROS),
    // which Spark reads as TIMESTAMP_NTZ. Normalize at the catalog boundary:
    // every downstream plan sees ONE canonical type (epoch-nanos LONG), so
    // operators never branch on the generator's timestamp flavor. The NTZ
    // wall-clock equals the UTC instant under the UTC session timezone the
    // mains and specs set, matching DuckDB's epoch_ns() over the same file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The MICROS flavor reads as TIMESTAMP_NTZ; `cast("timestamp")` below
    // interprets that wall-clock in the SESSION timezone. Enforce the UTC
    // assumption here rather than trusting every caller to have set it —
    // the normalization must be deterministic at the catalog boundary.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val read = parquetReader(spark, dir, { (name, df) =>
      import org.apache.spark.sql.functions.{col, lit, unix_micros}
      if (name == "events" &&
          df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      else df
    })
    new Catalog(
    spark,
    dir,
    reader = Some(read),
    tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"),
    foreignKeys = Seq(
      ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ForeignKey("lineitem", "l_partkey", "part", "p_partkey"),
      ForeignKey("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
      ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
      ForeignKey("supplier", "s_nationkey", "nation", "n_nationkey"),
      ForeignKey("nation", "n_regionkey", "region", "r_regionkey"),
      ForeignKey("events", "user_id", "customer", "c_custkey")
    ),
    primaryKeys = Map(
      "region" -> Seq("r_regionkey"),
      "nation" -> Seq("n_nationkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id")
    )
  )
  }
}
