package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{Catalog, EpochStore, FileIO, ParquetFiles, TableGraph}
import graft.operators.Closure

/** What to dump — mirrors the reference's `dump()` signature
  * (xdump/base.py:87): whole tables, per-table partial selections, and
  * schema/data toggles. `format` is parquet (the 100 TB-sane archive),
  * csv-with-header (the reference's wire format, xdump/base.py:197),
  * jsonl (the LLM-corpus wire format, via [[Jsonl]]), or orc (the other
  * splittable columnar format Spark ships natively — for targets whose
  * readers are ORC-first, e.g. Hive-lineage warehouses). `compression`
  * maps to the writer codec per format (reference: zip deflate,
  * base.py:87): snappy/zstd/gzip for parquet, none/snappy/zlib/zstd/lz4
  * for orc (NOT gzip — ORC's codec set), gzip/none for csv/jsonl.
  */
final case class DumpSpec(
    fullTables: Seq[String] = Nil,
    partialTables: Map[String, DataFrame] = Map.empty,
    format: String = "parquet",
    compression: String = "snappy",
    dumpSchema: Boolean = true,
    dumpData: Boolean = true)

/** A consistent partial dump as a directory:
  *
  * {{{
  * <path>/manifest.json   — tables, load order, row counts, sequence state
  * <path>/schema/<t>.sql  — CREATE TABLE DDL per table (≙ pg_dump -s)
  * <path>/data/<t>/       — parquet (or CSV w/ header) per table
  * }}}
  *
  * The reference packs CSVs into one zip (xdump/base.py:100); a directory of
  * partitioned files is the distributed equivalent — each table writes in
  * parallel from every executor, no single-writer bottleneck.
  *
  * Write path executes every operator exactly once: tables spool to disk
  * the moment the closure finalizes them (Closure.relatedData onFinal),
  * the key tuples of each key-set FK pull ride the spool's `observe()`,
  * and a semi-join pull (above the broadcast gate, JDBC sources) reads the
  * *written* files back instead of recomputing the selection. Full tables
  * spool concurrently in the closure's first wave; partial tables spool
  * one at a time, wave by wave.
  *
  * Job budget — only jobs that move data run:
  *  - write: one job per dumped table (its spool), plus the closure's own
  *    jobs. Key-set pulls cost none: their keys ride the spool, and the
  *    pull is a filter the next table's spool scans. A self-FK costs one
  *    edge-list collect whatever the hierarchy's depth when its edge list
  *    fits the broadcast gate, plus the seed's dedup and checkpoint unless
  *    the table's selection is pulled on its PK alone; else one
  *    localCheckpoint per recursion level (see
  *    [[graft.operators.Closure.recursiveClosure]]). Each semi-join pull
  *    costs its broadcast or shuffle. Row counts and sequence state ride
  *    each spool via `observe()`, a table that a semi-join pull reads is
  *    read back from its spooled files with the schema already in hand
  *    (no other table is read back), and the DDL takes its schemas from
  *    the DataFrames being written, so the manifest, the schema files and
  *    the read-backs cost no job. A parquet catalog resolves a table's schema
  *    from one footer read on the driver, once per table and without a job
  *    (see [[graft.core.Catalog.table]]). A selection whose estimated size
  *    fits the broadcast gate is written as one file.
  *  - restore: `readManifest` and `sequencesOf` parse on the driver (no
  *    job); `load` reads each table with the schema its dumped DDL
    *    records (no inference job); `loadInto` copies a parquet table's
  *    data files on the driver (no job, its count read from the copied
  *    footers) and runs one job for any other table (its copy, count
  *    verification riding it).
  *
  * The dump's own files (schema, manifest, archive entries, copied table
  * files) are written through [[graft.core.FileIO]], which starts no OS
  * process on a local filesystem.
  */
object Dump {

  /** Dump `spec` FK-closed: partial selections are widened with every
    * transitively referenced row (Closure.relatedData) before writing, so
    * the dump loads without FK violations — the reference's core guarantee.
    */
  def write(catalog: Catalog, spec: DumpSpec, path: String): Unit =
    // -v total-time surface (reference base.py:98 wraps the whole dump)
    QueryLog.time("Total execution time: %s") {
    val metrics = collection.concurrent.TrieMap.empty[String, (Long, Long)]
    // each table's schema as the DataFrame that is dumped carries it —
    // the DDL source, so writing the schema resolves no table again
    val schemas = collection.concurrent.TrieMap.empty[String, StructType]

    // the closure's finalize hook: one write per table (full tables
    // included), the key sets of its key-set pulls observed on it
    def spool(t: String, df: DataFrame, keys: Seq[Column],
        semiJoined: Boolean): (DataFrame, Seq[Seq[Row]]) = {
      schemas(t) = df.schema
      // no rows are written, so no pull needs keys: the closure only
      // settles the table set
      if (!spec.dumpData) (df, keys.map(_ => Nil))
      else {
        val pk = catalog.primaryKey(t).head
        val obs = Observation()
        val observed = df.observe(obs, count(lit(1)).as("n"),
          max(col(pk).cast("long")).as("mx") +:
            keys.zipWithIndex.map { case (k, i) => collect_set(k).as(s"k$i") }: _*)
        val w = (if (Closure.fitsBroadcast(df)) observed.coalesce(1) else observed)
          .write.mode(SaveMode.Overwrite)
          .option("compression", spec.compression)
        spec.format match {
          case "csv"   => w.option("header", "true").csv(s"$path/data/$t")
          case "jsonl" => w.json(s"$path/data/$t")
          case "orc"   => w.orc(s"$path/data/$t")
          case _       => w.parquet(s"$path/data/$t")
        }
        val m = obs.get
        metrics(t) = (m("n").asInstanceOf[Long],
          Option(m("mx")).collect { case l: java.lang.Long => l.longValue }.getOrElse(0L))
        // only a semi-join pull reads the spooled files back; the read-back
        // costs a source lookup and a file listing, so none is built for
        // a table whose pulls all run from its key sets
        (if (semiJoined) readData(catalog.spark, path, t, spec.format, df.schema) else df,
          keys.indices.map(i => m(s"k$i").asInstanceOf[collection.Seq[Row]].toSeq))
      }
    }

    // Full tables are never pulled *into* (only out of), so they spool in
    // the closure's first wave, concurrently with each other; inParallel
    // settles every write before it rethrows a failure, so no sibling is
    // still writing into the dump when the error reaches the caller.
    val closed = Closure.relatedDataWith(catalog, spec.fullTables, spec.partialTables, spool)

    val tables = (spec.fullTables ++ closed.keys).distinct
    if (spec.dumpSchema) writeSchema(catalog, schemas, tables.sorted, path)
    writeManifest(catalog, tables, spec, metrics.toMap, path)
  }

  /** CREATE TABLE DDL per table — the `pg_dump -s` analog
    * (xdump/postgresql.py:129). Besides column types, the file carries the
    * table's PK and FK constraints from the Catalog metadata as separate
    * `ALTER TABLE … ADD CONSTRAINT` statements (the reference's dumped DDL
    * keeps PK/FK too — pg_dump restores them on load, base.py:227), so a
    * load into an empty database can restore referential integrity, not
    * just column shapes — plus, for JDBC catalogs, the remaining pg_dump
    * -s surface: column DEFAULT expressions (as `ALTER … SET DEFAULT`
    * statements, portable across PG/Derby/H2 where inline-CREATE syntax
    * is not), secondary `CREATE [UNIQUE] INDEX` statements (both
    * introspected from DatabaseMetaData), CHECK constraints (engine
    * catalogs — Derby SYS.SYSCHECKS / INFORMATION_SCHEMA) and views
    * (`schema/_views.sql`). FK edges whose parent is outside the dumped
    * table set are omitted — they could never validate against this dump.
    */
  private def writeSchema(
      catalog: Catalog, schemas: collection.Map[String, StructType],
      tables: Seq[String], path: String): Unit = {
    val inSet = tables.toSet
    tables.foreach { t =>
      val create = s"CREATE TABLE $t (${schemas(t).toDDL});"
      val pk = catalog.primaryKeys.get(t).filter(_.nonEmpty).map(cols =>
        s"ALTER TABLE $t ADD CONSTRAINT ${t}_pk PRIMARY KEY (${cols.mkString(", ")});")
      val fks = catalog.foreignKeys
        .filter(fk => fk.table == t && inSet(fk.foreignTable))
        // name carries every key column: two FKs sharing a leading column
        // (composite keys differing in later parts) must not collide
        .map(fk => s"ALTER TABLE $t ADD CONSTRAINT " +
          s"${t}_${fk.columnPairs.map(_._1).mkString("_")}_fk " +
          s"FOREIGN KEY (${fk.columnPairs.map(_._1).mkString(", ")}) " +
          s"REFERENCES ${fk.foreignTable} (${fk.columnPairs.map(_._2).mkString(", ")});")
      // CHECK constraints (the final pg_dump -s piece): source names
      // replay as-is when they are plain identifiers; engine-generated
      // non-identifier names get a deterministic local one (the
      // constraint MATTERS, its unquotable name doesn't)
      val ident = "[A-Za-z_][A-Za-z0-9_]*".r
      val cks = catalog.checks.getOrElse(t, Seq.empty).zipWithIndex.map {
        case ((nm, cl), i) =>
          val name = if (ident.matches(nm)) nm else s"${t}_check$i"
          val c = cl.trim
          val clause = if (c.startsWith("(")) c else s"($c)"
          s"ALTER TABLE $t ADD CONSTRAINT $name CHECK $clause;"
      }
      val defs = catalog.columnDefaults.getOrElse(t, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, v) => s"ALTER TABLE $t ALTER COLUMN $c SET DEFAULT $v;" }
      val idxs = catalog.indexes.getOrElse(t, Seq.empty).map(ix =>
        s"CREATE ${if (ix.unique) "UNIQUE " else ""}INDEX ${ix.name} " +
          s"ON $t (${ix.columns.mkString(", ")});")
      FileIO.writeText(catalog.spark, s"$path/schema/$t.sql",
        (Seq(create) ++ pk ++ fks ++ cks ++ defs ++ idxs).mkString("\n"))
    }
    // Native bounded-character column types (VARCHAR(n)/CHAR(n)): Spark's
    // own schema reads them as plain string, so the recreate load needs
    // this sidecar to re-create them bounded instead of as the target
    // dialect's CLOB/TEXT default (which pg_dump -s would never emit, and
    // whose Derby form can't even be compared in a replayed CHECK).
    if (catalog.columnSqlTypes.nonEmpty)
      FileIO.writeText(catalog.spark, s"$path/schema/_column_types.json",
        "[" + catalog.columnSqlTypes.toSeq.sortBy(_._1).flatMap {
          case (t, cols) => cols.toSeq.sortBy(_._1).map { case (c, tp) =>
            s"""{"table": "$t", "column": "$c", "type": "$tp"}""" }
        }.mkString("\n", ",\n", "\n") + "]")
    // Views last (the pg_dump -s order — they may reference any table or
    // an earlier view). The introspected definition text is either the
    // bare SELECT (INFORMATION_SCHEMA engines) or a full CREATE VIEW
    // statement (Derby keeps the original DDL text) — normalize to one
    // statement per view. A partial dump that excludes a view's base
    // table still dumps the view (pg_dump -s does too); its replay then
    // fails loudly at load instead of silently losing the definition.
    if (catalog.views.nonEmpty)
      FileIO.writeText(catalog.spark, s"$path/schema/_views.sql",
        catalog.views.map { case (v, d) =>
          val dd = d.trim.stripSuffix(";").trim
          if (dd.toUpperCase.startsWith("CREATE ")) s"$dd;"
          else s"CREATE VIEW $v AS $dd;"
        }.mkString("\n"))
  }

  /** The dumped DDL statements of one table, semicolons stripped (JDBC
    * `Statement.execute` rejects them): the CREATE TABLE first, then any
    * ALTER TABLE constraint statements. Empty if the dump carries no
    * schema for `t`.
    */
  private[sources] def schemaStatements(
      spark: SparkSession, dumpPath: String, t: String): Seq[String] =
    try splitSqlStatements(FileIO.readText(spark, s"$dumpPath/schema/$t.sql"))
    catch { case _: java.io.IOException => Nil }

  /** Split dumped DDL text into statements on semicolons OUTSIDE quoted
    * regions ('…' literals with '' escapes, "…" identifiers): a view
    * definition or CHECK clause may legitimately carry ';' inside a
    * string literal — a naive split would replay truncated fragments.
    */
  private[graft] def splitSqlStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var q: Char = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (q != 0) {
        cur += c
        if (c == q) {
          if (i + 1 < text.length && text.charAt(i + 1) == q) {
            cur += q; i += 1 // '' / "" = escaped quote, region stays open
          } else q = 0
        }
      } else c match {
        case '\'' | '"' => q = c; cur += c
        case ';'        => out += cur.toString; cur.clear(): Unit
        case _          => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Manifest: load order (TableGraph), per-table row counts, and sequence
    * state — max(pk) per table, the analog of the reference's sequences
    * dump (xdump/postgresql.py:140), so a loader can resume id generation
    * past the loaded rows. Counts come from the write-time `observe()`
    * metrics — no second execution of any selection.
    */
  private def writeManifest(
      catalog: Catalog,
      tables: Seq[String],
      spec: DumpSpec,
      metrics: Map[String, (Long, Long)],
      path: String): Unit = {
    val order = TableGraph.loadOrder(tables, catalog.foreignKeys)
    val entries = order.map { t =>
      val (rows, seq) = metrics.getOrElse(t, (0L, 0L))
      s"""    {"table": "$t", "rows": $rows, "sequence": $seq, "full": ${spec.fullTables.contains(t)}}"""
    }
    val manifest =
      s"""{
         |  "format": "${spec.format}",
         |  "load_order": [${order.map("\"" + _ + "\"").mkString(", ")}],
         |  "tables": [
         |${entries.mkString(",\n")}
         |  ]
         |}""".stripMargin
    FileIO.writeText(catalog.spark, s"$path/manifest.json", manifest)
  }

  /** Parsed manifest. Sequence values mirror the reference's
    * `dump/sequences.sql` (postgresql.py:136): replayed on load so id
    * generation resumes past the loaded rows.
    */
  final case class Manifest(
      format: String,
      loadOrder: Seq[String],
      rows: Map[String, Long],
      sequences: Map[String, Long])

  /** Parses `schema/_column_types.json` (table → column → native type);
    * empty when the dump predates the sidecar. Entries are flat
    * identifier/type triples, so a line regex is exact.
    */
  private[graft] def readColumnTypes(
      spark: SparkSession, path: String): Map[String, Map[String, String]] = {
    val text =
      try FileIO.readText(spark, s"$path/schema/_column_types.json")
      catch { case _: java.io.IOException => return Map.empty }
    val Entry =
      """\{"table": "([^"]+)", "column": "([^"]+)", "type": "([^"]+)"\}""".r
    Entry.findAllMatchIn(text).toSeq
      .groupBy(_.group(1))
      .map { case (t, ms) =>
        t -> ms.map(m => m.group(2) -> m.group(3)).toMap }
  }

  /** Reads and parses `manifest.json` on the driver (Jackson, from Spark's
    * own classpath): no Spark job. A missing or unreadable file, malformed
    * JSON, or a missing or mistyped field fails with an error naming the
    * manifest's path and the field.
    */
  def readManifest(spark: SparkSession, path: String): Manifest = {
    val file = s"$path/manifest.json"
    def bad(what: String, cause: Throwable = null): Nothing =
      throw new IllegalStateException(s"dump manifest $file: $what", cause)
    // field `name` of `node` (reported as `at + name`): present, non-null,
    // and of the kind `ok` accepts
    def field(node: JsonNode, at: String, name: String, kind: String)(
        ok: JsonNode => Boolean): JsonNode =
      Option(node.get(name)).filterNot(_.isNull) match {
        case None => bad(s"missing field '$at$name'")
        case Some(v) if !ok(v) => bad(s"field '$at$name' is not $kind: $v")
        case Some(v) => v
      }
    def text(node: JsonNode, at: String, name: String): String =
      field(node, at, name, "a string")(_.isTextual).asText
    def long(node: JsonNode, at: String, name: String): Long =
      field(node, at, name, "an integer")(v => v.isIntegralNumber && v.canConvertToLong).asLong
    def array(node: JsonNode, name: String, kind: String)(ok: JsonNode => Boolean) =
      field(node, "", name, kind)(a => a.isArray && a.elements.asScala.forall(ok))
        .elements.asScala.toSeq
    val root = parseJson(spark, file, bad(_, _))
    val format = text(root, "", "format")
    val order = array(root, "load_order", "an array of strings")(_.isTextual).map(_.asText)
    val tables = array(root, "tables", "an array of objects")(_.isObject).zipWithIndex.map {
      case (t, i) =>
        val at = s"tables[$i]."
        (text(t, at, "table"), long(t, at, "rows"), long(t, at, "sequence"))
    }
    Manifest(format, order,
      tables.map(t => t._1 -> t._2).toMap,
      tables.map(t => t._1 -> t._3).toMap)
  }

  /** Parses the JSON file at `file` on the driver; `bad` reports an
    * unreadable file or malformed JSON.
    */
  private def parseJson(
      spark: SparkSession, file: String,
      bad: (String, Throwable) => Nothing): JsonNode = {
    val raw =
      try FileIO.readText(spark, file)
      catch { case e: java.io.IOException => bad(s"cannot be read ($e)", e) }
    try new ObjectMapper().readTree(raw)
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        bad(s"malformed JSON: ${e.getOriginalMessage}", e)
    }
  }

  private def readData(
      spark: SparkSession, path: String, t: String,
      format: String, schema: StructType): DataFrame =
    format match {
      case "csv" =>
        spark.read.option("header", "true").schema(schema).csv(s"$path/data/$t")
      case "jsonl" =>
        // a dump's own shards are well-formed by construction — a corrupt
        // line means a truncated/partial shard, and the load must fail
        // loudly like the csv/parquet paths do, not restore fewer rows
        Jsonl.readStrict(spark, s"$path/data/$t", schema)
      case "orc" => spark.read.schema(schema).orc(s"$path/data/$t")
      case _ => spark.read.schema(schema).parquet(s"$path/data/$t")
    }

  /** Reads a dump back: tables as DataFrames keyed by name, in manifest load
    * order (≙ xdump/base.py:220 `load`). Every format reads with the schema
    * the dumped DDL records: exact types (header-only CSV inference would
    * widen everything to string) and no schema-inference job per table.
    */
  def load(spark: SparkSession, path: String): Seq[(String, DataFrame)] =
    load(spark, path, readManifest(spark, path))

  private def load(
      spark: SparkSession, path: String, manifest: Manifest): Seq[(String, DataFrame)] =
    manifest.loadOrder.map(t => t -> readTable(spark, path, t, manifest.format))

  /** Table `t` of the dump at `path`, read with the schema its DDL records. */
  private def readTable(spark: SparkSession, path: String, t: String, format: String): DataFrame = {
    // first statement is the CREATE TABLE; constraint ALTERs may follow
    val schema = StructType.fromDDL(
      FileIO.readText(spark, s"$path/schema/$t.sql").takeWhile(_ != ';')
        .stripPrefix(s"CREATE TABLE $t (").stripSuffix(")"))
    readData(spark, path, t, format, schema)
  }

  /** Loads a dump into a target directory of parquet tables — the offline
    * analog of loading into a database. Loading follows manifest order so a
    * future FK-enforcing sink is also satisfied, and the manifest's
    * sequence state is applied to the target (`_sequences.json`) — the
    * analog of the reference replaying `dump/sequences.sql` on load
    * (xdump/postgresql.py:136-146, base.py:227).
    *
    * Each table's target directory is replaced. A parquet dump's table
    * whose data files lie flat in its directory (the layout
    * [[graft.core.ParquetFiles.dataFiles]] accepts; `Dump.write` writes no
    * other) is restored by copying those files on the driver, with no
    * Spark job: the copy keeps the dump's parquet codec and footer schema,
    * and its row count is summed from the copied footers, not by decoding
    * rows. csv/jsonl/orc dumps and any other parquet layout take a Spark
    * copy whose row count rides it via `observe()`. Either way a count
    * that differs from the manifest's fails the load, so a vanished dump
    * shard aborts it instead of restoring fewer rows.
    */
  def loadInto(spark: SparkSession, dumpPath: String, targetDir: String): Unit =
    loadInto(spark, dumpPath, targetDir, readManifest(spark, dumpPath))

  /** [[loadInto]] with the dump's manifest already parsed. */
  def loadInto(
      spark: SparkSession, dumpPath: String, targetDir: String,
      manifest: Manifest): Unit = {
    // Parquet targets enforce no constraints, so unlike the JDBC load the
    // per-table copies have no ordering requirement — run them
    // concurrently (guide §2.6; the Dump.write full-table discipline): a
    // roundtrip restore isn't serialized on its largest table.
    EpochStore.inParallel(manifest.loadOrder.map { t => () => {
      val target = s"$targetDir/$t.parquet"
      val copyable =
        if (manifest.format != "parquet") None
        else ParquetFiles.dataFiles(spark, s"$dumpPath/data/$t")
      val written = copyable match {
        case Some(files) =>
          val to = new Path(target)
          to.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(to, true)
          files.foreach(f => FileIO.copy(spark, f.getPath.toString, s"$target/${f.getPath.getName}"))
          ParquetFiles.rowCount(spark, target).getOrElse(0L)
        case None =>
          val obs = Observation(s"graft_loadinto_$t")
          readTable(spark, dumpPath, t, manifest.format)
            .observe(obs, count(lit(1)).as("rows"))
            .write.mode(SaveMode.Overwrite).parquet(target)
          obs.get("rows").asInstanceOf[Long]
      }
      manifest.rows.get(t).foreach { expect =>
        if (written != expect) sys.error(
          s"load of $t wrote $written rows but the manifest recorded $expect — " +
            s"dump at $dumpPath is truncated or partially written")
      }
    }}: _*)
    val seqs = manifest.loadOrder.map { t =>
      s"""  {"table": "$t", "value": ${manifest.sequences.getOrElse(t, 0L)}}"""
    }
    FileIO.writeText(spark, s"$targetDir/_sequences.json",
      seqs.mkString("[\n", ",\n", "\n]"))
  }

  /** Loads a dump into a live database over JDBC — the reference's `xload`
    * against Postgres/SQLite (xdump/base.py:220, cli/load.py:63). Cleanup
    * runs as a separate CHILDREN-FIRST pass (reverse manifest order) before
    * any write: clearing a parent while children still reference it is
    * refused by every FK-enforcing engine, so interleaving cleanup with the
    * parent-first writes can never work against the very targets this
    * exists for. Then tables are written in manifest load order (parents
    * before children), so every constraint is satisfied. `cleanup`:
    * None → append; "truncate" → `DELETE FROM` per table, children first —
    * keeps tables + constraints on any engine (engines disagree on whether
    * TRUNCATE may touch FK-referenced tables at all; ≙ postgresql.py:212);
    * "recreate" → `DROP TABLE` children first, tables re-created from
    * Spark's schema by the writes, then the dumped PK/FK constraint DDL is
    * replayed (≙ recreate_database + initial_setup replay, base.py:202,
    * base.py:227) — constraints land AFTER the data, the standard
    * bulk-load order, so no write is validated row-by-row and parent PKs
    * exist before the FKs that reference them.
    *
    * Sequence state from the manifest is replayed last (best-effort, per
    * table — see [[replaySequences]]): a target whose id columns are
    * identity/serial resumes generation past the loaded rows, the
    * reference's sequences.sql-on-load behavior (postgresql.py:144,
    * base.py:227); plain-integer targets (e.g. what recreate just
    * created — Spark only knows column types) have no generator to
    * restart and are skipped. Call [[replaySequences]] directly for the
    * per-table outcomes.
    */
  def loadIntoJdbc(
      spark: SparkSession,
      dumpPath: String,
      cfg: JdbcConfig,
      cleanup: Option[String] = None,
      restoreConstraints: Boolean = true,
      restoreSequences: Boolean = true,
      verifyCounts: Boolean = true): Unit =
    loadIntoJdbc(spark, dumpPath, cfg, cleanup, restoreConstraints,
      restoreSequences, verifyCounts, readManifest(spark, dumpPath))

  /** [[loadIntoJdbc]] with the dump's manifest already parsed. */
  def loadIntoJdbc(
      spark: SparkSession,
      dumpPath: String,
      cfg: JdbcConfig,
      cleanup: Option[String],
      restoreConstraints: Boolean,
      restoreSequences: Boolean,
      verifyCounts: Boolean,
      manifest: Manifest): Unit =
    // -v total-time surface (reference base.py:222 wraps the whole load)
    QueryLog.time("Total execution time: %s") {
    val tables = load(spark, dumpPath, manifest) // manifest load order
    cleanup.foreach { method =>
      val childrenFirst = tables.map(_._1).reverse
      method match {
        case "truncate" =>
          Jdbc.execute(cfg, childrenFirst.map(t => s"DELETE FROM $t"))
        case "recreate" =>
          childrenFirst.foreach { t =>
            // missing table is fine — recreate of a partially-created target
            try Jdbc.execute(cfg, Seq(s"DROP TABLE $t"))
            catch { case _: java.sql.SQLException => () }
          }
        case other =>
          sys.error(s"unknown cleanup method (use truncate|recreate): $other")
      }
    }
    val recorded = manifest.rows
    // recreate re-creates tables through the JDBC writer — restore the
    // dumped native bounded-character types so VARCHAR(32) doesn't come
    // back as CLOB/TEXT; absent sidecar (older dumps) = writer defaults
    val nativeTypes: Map[String, Map[String, String]] =
      if (!cleanup.contains("recreate")) Map.empty
      else readColumnTypes(spark, dumpPath)
    tables.foreach { case (t, df) =>
      // Count verification catches what a per-line check cannot: a dump
      // shard FILE that vanished entirely (any format) restores fewer
      // rows with no parse error anywhere; the manifest's write-time
      // count is the ground truth. The written delta comes from two
      // server-side COUNT(*)s around the write (observe() cannot ride
      // the V1 JDBC sink — it executes via df.rdd, which posts no
      // observed metrics). ≙ the reference's all-inside-one-transaction
      // load, degraded honestly to verify-after-write.
      // before-probe on a table the write is about to CREATE: 0 rows
      val before =
        if (!verifyCounts) 0L
        else try Jdbc.countTable(cfg, t)
        catch { case _: java.sql.SQLException => 0L }
      Jdbc.writeTable(df, cfg, t, SaveMode.Append,
        columnTypes = nativeTypes.getOrElse(t, Map.empty))
      if (verifyCounts) recorded.get(t).foreach { expect =>
        val written = Jdbc.countTable(cfg, t) - before
        if (written != expect) sys.error(
          s"load of $t wrote $written rows but the manifest recorded $expect — " +
            s"dump at $dumpPath is truncated or partially written")
      }
    }
    // Only a recreate left the target constraint-less; truncate/append
    // targets own their schema (reference: initial_setup replay is the
    // recreate path, base.py:227).
    if (cleanup.contains("recreate") && restoreConstraints)
      replayConstraints(spark, dumpPath, cfg, tables.map(_._1))
    if (restoreSequences) replaySequences(spark, dumpPath, cfg, manifest)
  }

  /** Identifier fragment for the shape patterns: a double-quoted name
    * (which may contain spaces) or a bare token. Without the quoted
    * alternative, a statement over `"my table"` matched NO category and
    * was silently dropped from the replay.
    */
  private val Ident = """(?:"[^"]+"|\S+)"""

  private val PkStmt =
    ("""ALTER TABLE (""" + Ident + """) ADD CONSTRAINT """ + Ident +
      """ PRIMARY KEY \(([^)]*)\)""").r

  /** Quote-aware split of a captured PK column list: the quoted-identifier
    * support must reach PAST the statement classifier — a bare
    * `split(",")` over `PRIMARY KEY ("a,b", c)` produced broken NOT NULL
    * DDL that aborted the load (r19 ADVICE). Commas inside double quotes
    * belong to the identifier; quotes are kept on the token (the dump
    * writer emitted them, so the replayed DDL needs them back).
    */
  private[graft] def splitColumnList(cols: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    cols.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case ',' if !inQ => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    out += cur.toString.trim
    require(!inQ, s"unbalanced quotes in PK column list: $cols")
    out.filter(_.nonEmpty).toSeq
  }

  /** Replays the dumped PK/FK/default/index DDL onto a live target,
    * bulk-load order: every PK column is first made NOT NULL (Spark's
    * JDBC writer creates nullable columns, and no engine accepts a PK
    * over one — dialect handled by [[Jdbc.notNullSql]]), then all
    * PRIMARY KEY statements, then all FOREIGN KEY statements (their
    * parents' PKs exist by then, regardless of FK-graph order), then
    * column `SET DEFAULT` statements, `CREATE INDEX` statements —
    * indexes after the bulk load so it never paid incremental index
    * maintenance — and finally `CREATE VIEW` statements from
    * `schema/_views.sql` (the pg_dump/pg_restore order).
    */
  private def replayConstraints(
      spark: SparkSession, dumpPath: String, cfg: JdbcConfig,
      tables: Seq[String]): Unit = {
    val stmts = tables.flatMap(t => schemaStatements(spark, dumpPath, t))
    // Classify by the statement's ANCHORED shape (the exact forms the dump
    // writer emits), not by substring: a CHECK clause or DEFAULT value can
    // legitimately contain " FOREIGN KEY " or " SET DEFAULT " inside a
    // string literal, and a substring match would land that statement in
    // two lists — the duplicate ADD CONSTRAINT then aborts the load. The
    // kind token sits right after the constraint name, so these patterns
    // are mutually exclusive by construction; identifiers may be quoted
    // (spaces inside), hence the Ident fragment. Every statement must
    // land in exactly one category — an unclassified (or double-matched)
    // statement fails the load loudly instead of being silently dropped.
    val pkShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident PRIMARY KEY\\b.*").r
    val fkShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident FOREIGN KEY\\b.*").r
    val ckShape =
      (s"(?s)ALTER TABLE $Ident ADD CONSTRAINT $Ident CHECK\\b.*").r
    val defShape =
      (s"(?s)ALTER TABLE $Ident ALTER COLUMN $Ident SET DEFAULT\\b.*").r
    val idxShape = """(?s)CREATE (UNIQUE )?INDEX\b.*""".r
    val shapes = Seq(pkShape, fkShape, ckShape, defShape, idxShape)
    stmts.foreach { s =>
      val n = shapes.count(_.matches(s))
      require(n <= 1,
        s"schema statement matched $n replay categories — a double-matched " +
          s"constraint would replay twice and abort the load: $s")
      // CREATE TABLE (replayed by the table-creation path, not here) is
      // the one legitimate zero-category shape; an unmatched ALTER TABLE
      // is a constraint this classifier WOULD silently drop — fail loud
      require(n == 1 || !s.trim.toUpperCase.startsWith("ALTER TABLE"),
        s"unclassified ALTER TABLE statement would be silently dropped " +
          s"from the constraint replay: $s")
    }
    val pkStmts = stmts.filter(pkShape.matches(_))
    val fkStmts = stmts.filter(fkShape.matches(_))
    val ckStmts = stmts.filter(ckShape.matches(_))
    val defStmts = stmts.filter(defShape.matches(_))
    val idxStmts = stmts.filter(idxShape.matches(_))
    val notNulls = pkStmts.flatMap {
      case PkStmt(t, cols) =>
        splitColumnList(cols).map(c => Jdbc.notNullSql(cfg, t, c))
      case _ => Nil
    }
    // views after everything (their base tables and indexes exist by then
    // — the pg_restore order); absent file = dump carried no views
    val viewStmts =
      try splitSqlStatements(FileIO.readText(spark, s"$dumpPath/schema/_views.sql"))
      catch { case _: java.io.IOException => Nil }
    Jdbc.execute(cfg,
      notNulls ++ pkStmts ++ fkStmts ++ ckStmts ++ defStmts ++ idxStmts ++
        viewStmts)
  }

  /** Replays the manifest's sequence state onto a live JDBC target — the
    * reference's sequences.sql-on-load (postgresql.py:136-146, base.py:227):
    * each table's id generator restarts just past the dumped max, so rows
    * inserted after the load don't collide with loaded ids. The generator
    * column is the dumped PK's first column; the restart statement is
    * dialect-routed (Postgres `setval(pg_get_serial_sequence(…))`,
    * Derby/DB2/H2 `ALTER TABLE … RESTART WITH`). Best-effort BY DESIGN:
    * a target whose id column is a plain integer (no identity/serial —
    * e.g. a table `recreate` just created) has no generator, and the
    * engine refuses the statement; that table's outcome reports the error
    * instead of failing the load.
    *
    * @return per table: None = replayed; Some(reason) = skipped/refused.
    */
  def replaySequences(
      spark: SparkSession, dumpPath: String,
      cfg: JdbcConfig): Map[String, Option[String]] =
    replaySequences(spark, dumpPath, cfg, readManifest(spark, dumpPath))

  private def replaySequences(
      spark: SparkSession, dumpPath: String, cfg: JdbcConfig,
      manifest: Manifest): Map[String, Option[String]] =
    manifest.loadOrder.map { t =>
      val pkCol = schemaStatements(spark, dumpPath, t).collectFirst {
        case PkStmt(_, cols) => splitColumnList(cols).head
      }
      t -> (pkCol match {
        case None => Some("no primary key in dumped schema")
        case Some(c) =>
          val next = manifest.sequences.getOrElse(t, 0L) + 1
          try { Jdbc.execute(cfg, Seq(Jdbc.restartSequenceSql(cfg, t, c, next))); None }
          catch { case e: java.sql.SQLException => Some(String.valueOf(e.getMessage)) }
      })
    }.toMap

  /** Sequence state of a load target — what the next id per table should
    * start after. Parses `_sequences.json` written by `loadInto` on the
    * driver into a local DataFrame (`table_name`, `seq_value`): no job.
    */
  def sequencesOf(spark: SparkSession, targetDir: String): DataFrame = {
    val file = s"$targetDir/_sequences.json"
    def bad(what: String, cause: Throwable = null): Nothing =
      throw new IllegalStateException(s"sequence state $file: $what", cause)
    val root = parseJson(spark, file, bad(_, _))
    if (!root.isArray) bad(s"not an array: $root")
    val rows = root.elements.asScala.map { e =>
      val (t, v) = (e.get("table"), e.get("value"))
      if (t == null || !t.isTextual || v == null || !v.isIntegralNumber)
        bad(s"entry is not {\"table\": <string>, \"value\": <integer>}: $e")
      Row(t.asText, v.asLong)
    }.toSeq
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("table_name", StringType), StructField("seq_value", LongType))))
  }

  /** STORED entries at or below this size are buffered in memory for a
    * single-pass write; larger ones take the constant-memory two-pass
    * meter-then-copy path.
    */
  private[sources] val StoredBufferMax: Long = 16L * 1024 * 1024

  private[sources] sealed trait ArchiveMethod
  private[sources] object ArchiveMethod {
    case object Stored extends ArchiveMethod
    final case class Deflated(level: Int) extends ArchiveMethod // -1 default
    case object Bzip2 extends ArchiveMethod
    case object Lzma extends ArchiveMethod
  }

  /** Packs a dump directory into ONE zip file — the reference's wire format
    * (xdump/base.py:100 packs schema + per-table CSVs into a zip archive).
    * A convenience for small dumps that must travel as a single artifact:
    * a zip is one writer stream, the opposite of the partitioned-directory
    * default that writes from every executor in parallel — at scale, keep
    * the directory. Entry names are paths relative to `dumpPath`, so
    * `unarchive` restores an identical directory. Streams through
    * [[graft.core.FileIO]] (local, HDFS, S3A, ...).
    */
  def archive(spark: SparkSession, dumpPath: String, zipPath: String,
      compression: String = "deflated"): Unit = {
    import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
    val method = parseArchiveCompression(compression)
    val root = new Path(dumpPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toUri
    // the zip may live on a different filesystem than the dump directory
    val out = new ZipArchiveOutputStream(FileIO.create(spark, zipPath))
    method match {
      case ArchiveMethod.Deflated(l) if l >= 0 => out.setLevel(l)
      case _ => ()
    }
    try {
      FileIO.walk(spark, dumpPath).foreach { f =>
        val rel = rootUri.relativize(f.getPath.toUri).getPath
        val entry = new ZipArchiveEntry(rel)
        method match {
          case ArchiveMethod.Deflated(_) =>
            entry.setMethod(java.util.zip.ZipEntry.DEFLATED)
            out.putArchiveEntry(entry)
            val in = fs.open(f.getPath)
            try in.transferTo(out) finally in.close()
            out.closeArchiveEntry()
          case ArchiveMethod.Stored if f.getLen <= StoredBufferMax =>
            // STORED entries declare size + CRC in the local header,
            // before any bytes. Small files are buffered once and written
            // from the buffer — a single read, so a remote dump (S3A/
            // HDFS) is not fetched twice and a file mutated mid-archive
            // cannot desync header and payload.
            val bytes = {
              val in = fs.open(f.getPath)
              try in.readAllBytes() finally in.close()
            }
            val crc = new java.util.zip.CRC32()
            crc.update(bytes)
            entry.setMethod(java.util.zip.ZipEntry.STORED)
            entry.setSize(bytes.length.toLong)
            entry.setCompressedSize(bytes.length.toLong)
            entry.setCrc(crc.getValue)
            out.putArchiveEntry(entry)
            out.write(bytes)
            out.closeArchiveEntry()
          case ArchiveMethod.Stored =>
            // Above the buffer threshold: one metering pass, then the
            // copy. Constant memory — the file is read twice, never
            // buffered. ASSUMES the dump is immutable while archiving (a
            // file changing between passes makes the writer throw on the
            // size/CRC mismatch rather than corrupt the archive silently).
            val crc = new java.util.zip.CRC32()
            val buf = new Array[Byte](64 * 1024)
            var total = 0L
            val meter = fs.open(f.getPath)
            try {
              var n = meter.read(buf)
              while (n >= 0) { crc.update(buf, 0, n); total += n; n = meter.read(buf) }
            } finally meter.close()
            entry.setMethod(java.util.zip.ZipEntry.STORED)
            entry.setSize(total)
            entry.setCompressedSize(total)
            entry.setCrc(crc.getValue)
            out.putArchiveEntry(entry)
            val in = fs.open(f.getPath)
            try in.transferTo(out) finally in.close()
            out.closeArchiveEntry()
          case ArchiveMethod.Bzip2 | ArchiveMethod.Lzma =>
            // zip methods 12 (bzip2) / 14 (LZMA) — the reference's
            // COMPRESSION_MAPPING tiers the JDK lacks, via the codecs on
            // Spark's own classpath (commons-compress + xz). The entry
            // payload is pre-compressed to a local spool file in ONE pass
            // over the source (CRC + size metered in the same read —
            // constant memory, remote dump fetched once), then written
            // verbatim with addRawArchiveEntry under the foreign method
            // id. Readers: `unarchive` below, and any zipfile runtime
            // with the codec (Python's zipfile reads both).
            val spool = java.io.File.createTempFile("graft-zip-raw", ".bin")
            try {
              val crc = new java.util.zip.CRC32()
              var total = 0L
              val rawOut = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(spool))
              val (cOut, methodId) = method match {
                case ArchiveMethod.Bzip2 =>
                  (new org.apache.commons.compress.compressors.bzip2
                    .BZip2CompressorOutputStream(rawOut): java.io.OutputStream, 12)
                case _ =>
                  // zip LZMA payload: 2-byte version tag + LE16 props
                  // size (5) + [lc/lp/pb byte, LE32 dict size] + raw
                  // LZMA stream WITHOUT end-of-stream marker (APPNOTE
                  // 4.4.4: marker presence is general-purpose bit 1,
                  // which commons-compress's raw-entry writer cannot
                  // set — so the payload must match the cleared bit:
                  // sizes declared, no marker; Python's zipfile reads
                  // this form, and `unarchive` below keys off the bit)
                  val opts = new org.tukaani.xz.LZMA2Options()
                  val props = ((opts.getPb * 5 + opts.getLp) * 9 + opts.getLc)
                  val dict = opts.getDictSize
                  rawOut.write(Array[Byte](9, 4, 5, 0))
                  rawOut.write(props)
                  rawOut.write(Array[Byte](
                    (dict & 0xff).toByte, ((dict >> 8) & 0xff).toByte,
                    ((dict >> 16) & 0xff).toByte, ((dict >> 24) & 0xff).toByte))
                  (new org.tukaani.xz.LZMAOutputStream(rawOut, opts, false):
                    java.io.OutputStream, 14)
              }
              try {
                val in = fs.open(f.getPath)
                try {
                  val buf = new Array[Byte](64 * 1024)
                  var n = in.read(buf)
                  while (n >= 0) {
                    crc.update(buf, 0, n); total += n
                    cOut.write(buf, 0, n)
                    n = in.read(buf)
                  }
                } finally in.close()
                cOut.close()
                entry.setMethod(methodId)
                entry.setSize(total)
                entry.setCompressedSize(spool.length())
                entry.setCrc(crc.getValue)
                val spoolIn = new java.io.BufferedInputStream(
                  new java.io.FileInputStream(spool))
                try out.addRawArchiveEntry(entry, spoolIn)
                finally spoolIn.close()
              } finally {
                // failure-path close (both codec streams are idempotent
                // on double-close; closes rawOut transitively) — without
                // this a mid-copy throw leaks the compressor + spool fd
                // and the spool delete below races the open handle
                try cOut.close()
                catch { case _: java.io.IOException => () }
              }
            } finally spool.delete()
        }
      }
    } finally out.close()
  }

  /** Archive compression choice ≙ the reference's COMPRESSION_MAPPING
    * (cli/dump.py:32 — stored/deflated/bzip2/lzma): `stored` (no
    * compression — right when the dump payload is already-compressed
    * parquet), `deflated` (zlib default), `deflated:0-9` (explicit zlib
    * level), `bzip2` (zip method 12), or `lzma` (zip method 14) — the
    * max-ratio tiers, written with the commons-compress/xz codecs on
    * Spark's own classpath.
    */
  private[sources] def parseArchiveCompression(compression: String): ArchiveMethod =
    compression match {
      case "stored"   => ArchiveMethod.Stored
      case "deflated" => ArchiveMethod.Deflated(-1)
      case s if s.startsWith("deflated:") =>
        val lvl = s.stripPrefix("deflated:").toIntOption.getOrElse(-99)
        require(lvl >= 0 && lvl <= 9,
          s"deflate level must be 0-9: $s")
        ArchiveMethod.Deflated(lvl)
      case "bzip2" => ArchiveMethod.Bzip2
      case "lzma"  => ArchiveMethod.Lzma
      case other => throw new IllegalArgumentException(
        s"unsupported archive compression '$other' " +
          "(expected stored, deflated, deflated:0-9, bzip2 or lzma)")
    }

  /** Adapts Hadoop's seekable input stream to the NIO channel the zip
    * central-directory reader needs — so bzip2/lzma archives unpack
    * straight off any Hadoop filesystem without a local copy.
    */
  private final class HadoopSeekableChannel(
      in: org.apache.hadoop.fs.FSDataInputStream, length: Long)
    extends java.nio.channels.SeekableByteChannel {
    private var closed = false
    override def read(dst: java.nio.ByteBuffer): Int = {
      val buf = new Array[Byte](dst.remaining())
      val n = in.read(buf, 0, buf.length)
      if (n > 0) dst.put(buf, 0, n)
      n
    }
    override def position(): Long = in.getPos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = {
      in.seek(p); this
    }
    override def size(): Long = length
    override def write(src: java.nio.ByteBuffer): Int =
      throw new java.nio.channels.NonWritableChannelException
    override def truncate(s: Long): java.nio.channels.SeekableByteChannel =
      throw new java.nio.channels.NonWritableChannelException
    override def isOpen: Boolean = !closed
    override def close(): Unit = { closed = true; in.close() }
  }

  /** Restores a zip written by `archive` into a dump directory that
    * `load`/`loadInto` read directly (≙ the reference unpacking its archive
    * on load, xdump/base.py:220). Reads through the commons-compress
    * central-directory reader, so every method `archive` writes — stored,
    * deflated, bzip2 (12), lzma (14) — extracts transparently.
    */
  def unarchive(spark: SparkSession, zipPath: String, targetDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val zp = new Path(zipPath)
    val zfs = zp.getFileSystem(conf)
    val zlen = zfs.getFileStatus(zp).getLen
    val zf = org.apache.commons.compress.archivers.zip.ZipFile.builder()
      .setSeekableByteChannel(new HadoopSeekableChannel(zfs.open(zp), zlen))
      .get()
    // entries extract onto the TARGET's filesystem (the zip may be remote)
    val tp = new Path(targetDir)
    val tfs = tp.getFileSystem(conf)
    val rootUri = tfs.makeQualified(tp).toUri
    try {
      val entries = zf.getEntriesInPhysicalOrder
      while (entries.hasMoreElements) {
        val e = entries.nextElement()
        if (!e.isDirectory) {
          val target = new Path(s"$targetDir/${e.getName}")
          // zip-slip guard: a crafted entry name ("../../etc/passwd") must
          // not resolve outside the extraction directory
          val resolved = tfs.makeQualified(target).toUri.normalize()
          require(!rootUri.relativize(resolved).equals(resolved) &&
              !rootUri.relativize(resolved).getPath.startsWith(".."),
            s"zip entry escapes the extraction directory: ${e.getName}")
          // commons-compress decodes stored/deflated/bzip2 natively; LZMA
          // (14) it exposes only raw, so parse the APPNOTE 4.5 payload
          // header ourselves (version tag, LE16 props size, 5-byte props)
          // and decode with the xz codec — honouring both marker
          // conventions: bit 1 set → end-of-stream marker mode (Python's
          // zipfile writes this), bit 1 clear → declared-size mode (our
          // own writer, and any APPNOTE-compliant EOS-less writer)
          val in: java.io.InputStream =
            if (e.getMethod == 14) {
              val raw = zf.getRawInputStream(e)
              val hdr = raw.readNBytes(4)
              require(hdr.length == 4, s"truncated LZMA header in ${e.getName}")
              val propsSize = (hdr(2) & 0xff) | ((hdr(3) & 0xff) << 8)
              val props = raw.readNBytes(propsSize)
              require(props.length == propsSize && propsSize >= 5,
                s"truncated LZMA properties in ${e.getName}")
              val dictSize = (props(1) & 0xff) | ((props(2) & 0xff) << 8) |
                ((props(3) & 0xff) << 16) | ((props(4) & 0xff) << 24)
              // general-purpose bit 1 says whether the stream carries an
              // end-of-stream marker (APPNOTE 4.4.4). Size -1 makes the
              // decoder REQUIRE the marker, so pass the declared size for
              // EOS-less archives (some writers clear the bit and declare
              // sizes) — they are valid zips and must extract
              val size = if ((e.getRawFlag & 0x2) != 0) -1L else e.getSize
              new org.tukaani.xz.LZMAInputStream(raw, size, props(0), dictSize)
            } else zf.getInputStream(e)
          // the central-directory reader does NOT CRC-check what it
          // decodes (java.util.zip's streaming reader did) — meter the
          // extracted bytes and verify against the directory's CRC, so a
          // bit-flipped archive fails the load instead of planting
          // corrupt table bytes that surface later or never
          val crc = new java.util.zip.CRC32()
          val out = FileIO.create(spark, target.toString)
          try {
            val buf = new Array[Byte](64 * 1024)
            var m = in.read(buf)
            while (m >= 0) { crc.update(buf, 0, m); out.write(buf, 0, m); m = in.read(buf) }
          } finally { out.close(); in.close() }
          if (e.getCrc != -1L)
            require(crc.getValue == e.getCrc,
              f"CRC mismatch extracting ${e.getName}: archive declares " +
                f"0x${e.getCrc}%08x, payload decodes to 0x${crc.getValue}%08x " +
                "— corrupt or tampered archive")
        }
      }
    } finally zf.close()
  }
}
