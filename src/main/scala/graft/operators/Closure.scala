package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum}
import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
import org.apache.spark.sql.types._

import graft.core.{Catalog, ForeignKey, TableGraph}

/** Related-data closure — the reference's core algorithm, re-expressed as
  * Spark logical plans.
  *
  * The reference rewrites per-table SQL strings: for each FK of a selected
  * table it appends `UNION SELECT * FROM ftable WHERE fcol IN (SELECT col
  * FROM source)` and recurses (xdump/base.py:138
  * `update_non_recursive_relations`, base.py:154 `get_related_data_sql`);
  * self-FKs become a recursive CTE (base.py:253 `RECURSIVE_QUERY_TEMPLATE`).
  *
  * Here each pull is a LEFT SEMI join on the FK key — Catalyst turns small
  * key sets into broadcast-hash semi-joins and AQE handles the rest — and
  * the traversal runs over the *plan* graph on the driver (metadata-sized),
  * never collecting row data. Selections accumulate as `UNION` +
  * PK-dropDuplicates (cheaper than whole-row distinct, same semantics since
  * a PK identifies the row).
  *
  * For acyclic FK graphs (every real schema) one sweep in reverse
  * topological order — facts before the dims they reference — is complete:
  * when a table is visited, every pull into it has already happened. That
  * also makes each table's selection *final* at visit time, which the
  * `onFinal` hook exposes: Dump uses it to write each table exactly once
  * and swap the written files in as the selection downstream pulls read
  * (no operator in the closure is ever computed twice).
  */
object Closure {

  /** Max fixpoint sweeps for cyclic (non-self) FK graphs — rare in real
    * schemas and bounded by this.
    */
  private val MaxSweeps = 10

  /** Computes the FK-closed selection set.
    *
    * @param fullTables tables dumped whole: they act as pull *sources* but
    *                   are never pulled *into* (xdump/base.py:150)
    * @param partial    seed selection per table (any DataFrame with the
    *                   table's schema)
    * @param onFinal    called exactly once per partial table the moment its
    *                   selection is final; its return value replaces the
    *                   selection (identity by default — Dump returns the
    *                   spooled files it just wrote)
    * @return final selection per partial table (full tables excluded — the
    *         caller dumps those with `catalog.table(t)`)
    */
  def relatedData(
      catalog: Catalog,
      fullTables: Seq[String] = Nil,
      partial: Map[String, DataFrame] = Map.empty,
      onFinal: (String, DataFrame) => DataFrame = (_, df) => df): Map[String, DataFrame] = {
    val overlap = fullTables.toSet.intersect(partial.keySet)
    require(overlap.isEmpty, s"partial tables also listed as full: ${overlap.mkString(", ")}")

    val full = fullTables.toSet
    var selections: Map[String, DataFrame] = partial

    // Widen table t along its self-FK, (optionally) finalize it, then push
    // its rows across each outgoing FK. Self-FK first, exactly like
    // update_partial_tables (base.py:127): the recursive pull widens the
    // seed the other FKs see.
    def process(t: String, finalize: Boolean): Unit = {
      for (fk <- catalog.foreignKeysOf(t, full, recursive = true)
           if selections.contains(t)) {
        selections += t -> recursiveClosure(
          catalog.table(t), selections(t), fk, catalog.primaryKey(t))
      }
      if (finalize && selections.contains(t))
        selections += t -> onFinal(t, selections(t))
      for (fk <- catalog.foreignKeysOf(t, full)) {
        val source = if (full(t)) catalog.table(t) else selections(t)
        val pulled = pull(catalog.table(fk.foreignTable), source, fk)
        val merged = selections.get(fk.foreignTable) match {
          case Some(existing) =>
            existing.unionByName(pulled)
              .dropDuplicates(catalog.primaryKey(fk.foreignTable))
          case None => pulled
        }
        selections += fk.foreignTable -> merged
      }
    }

    if (TableGraph.isAcyclic(catalog.tables, catalog.foreignKeys)) {
      // Reverse-topological single sweep: every pull into t precedes the
      // visit of t, so t is final at visit time — finalize, then push out.
      val order = TableGraph.loadOrder(catalog.tables, catalog.foreignKeys).reverse
      for (t <- order if full(t) || selections.contains(t))
        process(t, finalize = true)
    } else {
      // Cyclic FK graph: fixpoint over sweeps until the ROW set stops
      // growing — a cycle can add rows in the sweep that discovers no new
      // table, so table-set convergence alone would under-close.
      // Selections checkpoint each sweep so the stacked unions don't
      // deepen the plan unboundedly, and each selection's row count rides
      // its checkpoint via `observe()`; only the seeds' total before the
      // first sweep costs a count job. Rare case (real schemas are
      // acyclic) and bounded by MaxSweeps. Guarded for the
      // full-tables-only shape (partial = empty): the first sweep has no
      // selections yet — reduce over an empty collection would throw; 0
      // rows correctly forces that first sweep (0 != prevRows).
      var rows =
        if (selections.isEmpty) 0L
        else selections.values
          .map(_.select(count(lit(1)).as("__graft_n")))
          .reduce(_ unionByName _)
          .agg(sum(col("__graft_n"))).head().getLong(0)
      var sweeps = 0
      var prevRows = -1L
      while (rows != prevRows && sweeps < MaxSweeps) {
        prevRows = rows
        for (t <- catalog.tables if full(t) || selections.contains(t))
          process(t, finalize = false)
        val counted = selections.map { case (k, v) =>
          val n = Observation()
          k -> (v.observe(n, count(lit(1)).as("n")).localCheckpoint(), n)
        }
        selections = counted.map { case (k, (v, _)) => k -> v }
        rows = counted.values.map(_._2.get("n").asInstanceOf[Long]).sum
        sweeps += 1
      }
      for (t <- selections.keys.toSeq.sorted)
        selections += t -> onFinal(t, selections(t))
    }
    selections
  }

  /** One FK pull: rows of `foreignTable` referenced by `source` —
    * `SELECT * FROM f WHERE fcol IN (SELECT col FROM source)` as a semi-join
    * (xdump/base.py:154). Composite FKs semi-join on the whole key tuple
    * (exact, not the first-column superset); per SQL MATCH SIMPLE, a source
    * row with ANY null key part references nothing and is dropped from the
    * key set.
    */
  def pull(foreignTable: DataFrame, source: DataFrame, fk: ForeignKey): DataFrame = {
    val pairs = fk.columnPairs
    val keys = source
      .select(pairs.zipWithIndex.map { case ((c, _), i) => col(c).alias(s"__graft_key_$i") }: _*)
      .where(pairs.indices.map(i => col(s"__graft_key_$i").isNotNull).reduce(_ && _))
    foreignTable.join(keys,
      pairs.zipWithIndex.map { case ((_, f), i) =>
        foreignTable(f) === col(s"__graft_key_$i")
      }.reduce(_ && _),
      "left_semi")
  }

  /** Transitive closure along a self-FK (xdump/base.py:253
    * `RECURSIVE_QUERY_TEMPLATE`): seed rows plus every ancestor reachable by
    * repeatedly following `fk.column → fk.foreignColumn` within the same
    * table, for at most `maxDepth` levels. Composite self-FKs follow the
    * whole key tuple, and a row with any null FK part references nothing
    * (the MATCH SIMPLE rule of [[pull]]); cycles and self-loops terminate.
    *
    * Both paths start from one checkpoint of the PK-deduplicated seed, then
    * take one of two routes, chosen without running a job:
    *
    *  - Driver walk, when the table's edge list fits the broadcast gate.
    *    The edge list is the projection on the PK, FK and referenced
    *    columns. It fits when its estimated size (`optimizedPlan.stats`)
    *    is at most `spark.sql.autoBroadcastJoinThreshold` — Spark already
    *    holds that much on the driver when it broadcasts — and each FK
    *    part and the column it references share a type that compares by
    *    value on the driver. One job collects the edge list together with
    *    the seed's edge columns. The walk runs on the driver, and the
    *    result is the seed plus the table filtered to the added keys; a
    *    one-column key is an `IN` filter that pushes into a parquet scan.
    *    So the job count does not grow with the hierarchy's depth, and a
    *    consumer reads one filtered scan.
    *  - Semi-naive iteration otherwise (JDBC sources estimate their size at
    *    the maximum, so they always land here, as does a gate of -1). Each
    *    step semi-joins the table against only the previous frontier's
    *    keys and anti-joins out already-seen rows. Only the per-step DELTA
    *    is ever materialized (localCheckpoint); the accumulated set stays a
    *    lazy union of the checkpointed deltas, so total materialized bytes
    *    are O(|closure|), not O(depth × |closure|). Each step is one
    *    checkpoint and nothing else: the delta's row count rides the
    *    checkpoint via `observe()` (no separate emptiness job), and the
    *    frontier keys feed the semi-join undeduplicated (its build side
    *    ignores duplicate keys, so a `distinct()` would only add a
    *    shuffle).
    */
  def recursiveClosure(
      table: DataFrame,
      seed: DataFrame,
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int = 100): DataFrame = {
    require(fk.isRecursive, s"$fk is not a self-FK")
    val seed0 = seed.dropDuplicates(primaryKey).localCheckpoint()
    val edges = edgeList(table, fk, primaryKey)
    val (pkTypes, fkRefTypes) = edges.schema.map(_.dataType).splitAt(primaryKey.size)
    val (fkTypes, refTypes) = fkRefTypes.splitAt(fk.columnPairs.size)
    val gate = SessionBridge.broadcastThreshold(table.sparkSession)
    val walkable = gate >= 0 &&
      edges.queryExecution.optimizedPlan.stats.sizeInBytes <= gate &&
      fkTypes == refTypes && (pkTypes ++ fkTypes).forall(comparesOnDriver)
    if (walkable) walkOnDriver(table, seed0, edges, fk, primaryKey, maxDepth)
    else semiNaive(table, seed0, fk, primaryKey, maxDepth)
  }

  /** Types whose collected values are equal on the driver exactly when
    * Spark's `=` finds them equal (floating point and collated strings are
    * not: NaN, -0.0 and case-insensitive collations differ).
    */
  private def comparesOnDriver(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** `df`'s PK, FK and referenced columns, in that order, renamed by
    * position: a column may play two roles, and names resolve
    * case-insensitively as in [[pull]].
    */
  private def edgeList(df: DataFrame, fk: ForeignKey, primaryKey: Seq[String]): DataFrame = {
    val cols = primaryKey ++ fk.columnPairs.map(_._1) ++ fk.columnPairs.map(_._2)
    df.select(cols.zipWithIndex.map { case (c, i) => col(c).as(s"__graft_edge_$i") }: _*)
  }

  /** The driver walk of [[recursiveClosure]] over the collected edge list:
    * level by level, the parents of the frontier not yet seen.
    */
  private def walkOnDriver(
      table: DataFrame,
      seed0: DataFrame,
      edges: DataFrame,
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int): DataFrame = {
    val pkAt = primaryKey.indices
    val fkAt = pkAt.end until pkAt.end + fk.columnPairs.size
    val refAt = fkAt.end until fkAt.end + fk.columnPairs.size
    def tuple(r: Row, at: Seq[Int]): Seq[Any] = at.map(r.get)
    // a key tuple with a null part matches nothing (MATCH SIMPLE)
    def key(r: Row, at: Seq[Int]): Option[Seq[Any]] =
      Some(tuple(r, at)).filterNot(_.contains(null))

    // one job: the seed's edge columns (flagged) and the table's edge list
    val (seedRows, tableRows) = edgeList(seed0, fk, primaryKey).withColumn("__graft_seed", lit(true))
      .union(edges.withColumn("__graft_seed", lit(false)))
      .collect().partition(_.getBoolean(refAt.end))
    // the table's rows as (PK, FK tuple), by the key tuple they are referenced by
    val byRef: Map[Seq[Any], Seq[(Seq[Any], Option[Seq[Any]])]] = tableRows.toSeq
      .flatMap(r => key(r, refAt).map(_ -> (tuple(r, pkAt), key(r, fkAt))))
      .groupMap(_._1)(_._2)

    val seen = mutable.HashSet.from(seedRows.iterator.map(tuple(_, pkAt)))
    val added = mutable.ArrayBuffer.empty[Seq[Any]]
    var frontier = seedRows.flatMap(key(_, fkAt)).distinct.toSeq
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      val delta = frontier.flatMap(byRef.getOrElse(_, Nil))
        .filter { case (pk, _) => seen.add(pk) }
      added ++= delta.map(_._1)
      frontier = delta.flatMap(_._2).distinct
      if (delta.nonEmpty) depth += 1
    }
    if (added.isEmpty) seed0
    else seed0.unionByName(table.where(keyIn(table, primaryKey, added.toSeq)))
  }

  /** `key ∈ values`: an `IN` list on one column (pushed into parquet
    * scans), a struct `IN` list on a composite key.
    */
  private def keyIn(table: DataFrame, key: Seq[String], values: Seq[Seq[Any]]): Column =
    key match {
      case Seq(k) => col(k).isInCollection(values.map(_.head))
      case _ =>
        val t = table.select(key.map(col): _*).schema
        ColumnBridge.column(In(ColumnBridge.expression(struct(key.map(col): _*)),
          values.map(v => Literal.create(Row.fromSeq(v), t))))
    }

  /** The semi-naive iteration of [[recursiveClosure]]. */
  private def semiNaive(
      table: DataFrame,
      seed0: DataFrame,
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int): DataFrame = {
    def keysOf(df: DataFrame): DataFrame =
      df.select(primaryKey.map(k => col(k).alias(s"__graft_acc_$k")): _*)

    var deltas: List[DataFrame] = List(seed0)
    var accKeys = keysOf(seed0)
    var frontier = seed0
    var depth = 0
    var converged = false
    while (!converged && depth < maxDepth) {
      // Parents of the frontier (whole key tuple for composite self-FKs,
      // the MATCH SIMPLE null rule of `pull`)...
      val parents = pull(table, frontier, fk)
      // ...minus rows already accumulated (semi-naive delta). Aliased key
      // columns avoid self-join ambiguity (both sides share lineage).
      val size = Observation()
      val delta = parents
        .join(accKeys,
          primaryKey.map(k => parents(k) <=> col(s"__graft_acc_$k")).reduce(_ && _),
          "left_anti")
        .observe(size, count(lit(1)).as("n"))
        .localCheckpoint()
      if (size.get("n").asInstanceOf[Long] == 0L) converged = true
      else {
        deltas ::= delta
        accKeys = accKeys.unionByName(keysOf(delta))
        frontier = delta
        depth += 1
      }
    }
    deltas.reduce(_ unionByName _)
  }
}
