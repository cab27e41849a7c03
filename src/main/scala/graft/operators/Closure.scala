package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit, sum}

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
      // table, so table-set convergence alone would under-close. One
      // unioned count job per sweep detects growth; selections checkpoint
      // each sweep so the stacked unions don't deepen the plan unboundedly.
      // Rare case (real schemas are acyclic) and bounded by MaxSweeps.
      // Guarded for the full-tables-only shape (partial = empty): the first
      // sweep has no selections yet — reduce over an empty collection would
      // throw; 0 rows correctly forces that first sweep (0 != prevRows).
      def totalRows(): Long =
        if (selections.isEmpty) 0L
        else selections.values
          .map(_.select(count(lit(1)).as("__graft_n")))
          .reduce(_ unionByName _)
          .agg(sum(col("__graft_n"))).head().getLong(0)
      var sweeps = 0
      var prevRows = -1L
      var rows = totalRows()
      while (rows != prevRows && sweeps < MaxSweeps) {
        prevRows = rows
        for (t <- catalog.tables if full(t) || selections.contains(t))
          process(t, finalize = false)
        selections = selections.map { case (k, v) => k -> v.localCheckpoint() }
        rows = totalRows()
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
    * table.
    *
    * Semi-naive iteration: each step semi-joins the table against only the
    * previous frontier's keys and anti-joins out already-seen rows. Only the
    * per-step DELTA is ever materialized (localCheckpoint); the accumulated
    * set stays a lazy union of the checkpointed deltas, so total
    * materialized bytes are O(|closure|), not O(depth × |closure|).
    * Iteration count is the hierarchy depth (log n for trees), not the row
    * count. Each step is one checkpoint and nothing else: the delta's row
    * count rides the checkpoint via `observe()` (no separate emptiness
    * job), and the frontier keys feed the semi-join undeduplicated (its
    * build side ignores duplicate keys, so a `distinct()` would only add a
    * shuffle).
    */
  def recursiveClosure(
      table: DataFrame,
      seed: DataFrame,
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int = 100): DataFrame = {
    require(fk.isRecursive, s"$fk is not a self-FK")

    def keysOf(df: DataFrame): DataFrame =
      df.select(primaryKey.map(k => col(k).alias(s"__graft_acc_$k")): _*)

    val seed0 = seed.dropDuplicates(primaryKey).localCheckpoint()
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
