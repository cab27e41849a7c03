package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, when}
import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
import org.apache.spark.sql.types._

import graft.core.{Catalog, EpochStore, ForeignKey, TableGraph}

/** Related-data closure — the reference's core algorithm, re-expressed as
  * Spark logical plans.
  *
  * The reference rewrites per-table SQL strings: for each FK of a selected
  * table it appends `UNION SELECT * FROM ftable WHERE fcol IN (SELECT col
  * FROM source)` and recurses (xdump/base.py:138
  * `update_non_recursive_relations`, base.py:154 `get_related_data_sql`);
  * self-FKs become a recursive CTE (base.py:253 `RECURSIVE_QUERY_TEMPLATE`).
  *
  * Here the traversal runs over the *plan* graph on the driver, and each
  * pull takes one of two forms:
  *
  *  - Key set, when the FK-key projection of the source selection fits the
  *    broadcast gate — its estimated size (`optimizedPlan.stats`) is at
  *    most `spark.sql.autoBroadcastJoinThreshold`, so it is the side Spark
  *    would broadcast, and hold on the driver, anyway — and every key part
  *    compares by value on the driver. The key tuples are kept on the
  *    driver and the pull is `ftable.where(fcols IN keys)`, a filter that
  *    pushes into a parquet scan. All key-set pulls into one table are one
  *    filter over one scan: the union of their key sets, OR'd across
  *    different referenced columns — no union and no dedup shuffle.
  *  - A LEFT SEMI join on the FK key otherwise (JDBC sources estimate
  *    their size at the maximum, so they always land here, as does a gate
  *    of -1). Several pulls into one table accumulate as `UNION` +
  *    PK-dropDuplicates (cheaper than whole-row distinct, same semantics
  *    since a PK identifies the row).
  *
  * For acyclic FK graphs (every real schema) tables are finalized in
  * waves by FK depth from the seeds and full tables: a table's wave is one
  * past the deepest table that pulls into it. When a wave runs, every pull
  * into its tables has already happened, so each selection is *final*.
  * The tables of one wave have no FK path between them: its full tables
  * finalize concurrently ([[graft.core.EpochStore.inParallel]]), its
  * partial tables one after another. The `onFinal` hook
  * sees each table the moment it is final: Dump uses it to write each
  * table exactly once, take the pulls' key sets from that write's
  * `observe()`, and swap the written files in as the selection a semi-join
  * pull reads (no operator in the closure is ever computed twice).
  */
object Closure {

  /** Max fixpoint sweeps for cyclic (non-self) FK graphs — rare in real
    * schemas and bounded by this.
    */
  private val MaxSweeps = 10

  /** Default level bound of a self-FK closure. */
  private val MaxDepth = 100

  /** The finalize hook of [[relatedData]]. It gets a table, its final
    * selection and one key column per outgoing key-set pull, and returns
    * the selection the caller and the semi-join pulls read, plus each key
    * column's distinct non-null values. A key column is a struct of the
    * FK's parts in the types of the columns they reference, null where a
    * part is null (MATCH SIMPLE: such a row references nothing).
    */
  type OnFinal = (String, DataFrame, Seq[Column]) => (DataFrame, Seq[Seq[Row]])

  /** [[OnFinal]] plus whether an outgoing semi-join pull will read the
    * selection the hook returns ([[relatedDataWith]]).
    */
  private[graft] type Finalize = (String, DataFrame, Seq[Column], Boolean) => (DataFrame, Seq[Seq[Row]])

  /** The default [[OnFinal]]: the selection as it is, and the key columns'
    * values from one job (none without key columns).
    */
  def collectKeys(table: String, selection: DataFrame, keys: Seq[Column]): (DataFrame, Seq[Seq[Row]]) =
    if (keys.isEmpty) (selection, Nil)
    else {
      val rows = selection.select(keys: _*).collect()
      (selection, keys.indices.map(i =>
        rows.iterator.map(_.getStruct(i)).filter(_ != null).distinct.toSeq))
    }

  /** Whether `df`'s estimated size is at most
    * `spark.sql.autoBroadcastJoinThreshold` (never, at a negative gate):
    * the size under which Spark itself would collect it to broadcast it.
    */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val gate = SessionBridge.broadcastThreshold(df.sparkSession)
    gate >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= gate
  }

  /** Computes the FK-closed selection set.
    *
    * @param fullTables tables dumped whole: they act as pull *sources* but
    *                   are never pulled *into* (xdump/base.py:150)
    * @param partial    seed selection per table (any DataFrame with the
    *                   table's schema)
    * @param onFinal    called exactly once per table, full tables included,
    *                   the moment its selection is final (see [[OnFinal]]);
    *                   by default [[collectKeys]]
    * @return final selection per partial table (full tables excluded: their
    *         selection is `catalog.table(t)`, which `onFinal` also sees)
    */
  def relatedData(
      catalog: Catalog,
      fullTables: Seq[String] = Nil,
      partial: Map[String, DataFrame] = Map.empty,
      onFinal: OnFinal = collectKeys): Map[String, DataFrame] =
    relatedDataWith(catalog, fullTables, partial, (t, df, keys, _) => onFinal(t, df, keys))

  /** [[relatedData]] with a hook that also learns whether a semi-join pull
    * reads the selection it returns. Dump spools each table, takes the key
    * sets from the spool's `observe()` and, only when a semi-join pull
    * reads the table, returns the spooled files.
    */
  private[graft] def relatedDataWith(
      catalog: Catalog,
      fullTables: Seq[String],
      partial: Map[String, DataFrame],
      onFinal: Finalize): Map[String, DataFrame] = {
    val overlap = fullTables.toSet.intersect(partial.keySet)
    require(overlap.isEmpty, s"partial tables also listed as full: ${overlap.mkString(", ")}")
    if (TableGraph.isAcyclic(catalog.tables, catalog.foreignKeys))
      inWaves(catalog, fullTables, partial, onFinal)
    else sweepCycles(catalog, fullTables, partial, onFinal)
  }

  /** The acyclic closure: tables finalized wave by wave (see [[Closure]]). */
  private def inWaves(
      catalog: Catalog,
      fullTables: Seq[String],
      partial: Map[String, DataFrame],
      onFinal: Finalize): Map[String, DataFrame] = {
    val full = fullTables.toSet
    // each table's wave: one past the deepest table that pulls into it;
    // reverse load order visits every puller before the tables it pulls
    val wave = mutable.Map.empty[String, Int]
    for (t <- TableGraph.loadOrder(catalog.tables, catalog.foreignKeys).reverse
         if full(t) || partial.contains(t) || wave.contains(t)) {
      val w = wave.getOrElseUpdate(t, 0)
      for (fk <- catalog.foreignKeysOf(t, full))
        wave(fk.foreignTable) = wave.getOrElse(fk.foreignTable, 0).max(w + 1)
    }
    // the pulls into each table, filled in as their sources finalize: key
    // sets by the columns they reference, and semi-joins
    val keyed = mutable.Map.empty[String, Map[Seq[String], Set[Seq[Any]]]]
    val joined = mutable.Map.empty[String, List[DataFrame]]

    // the selection of `t` once every pull into it has run, widened along
    // its self-FKs; handed to `onFinal` with its key-set pulls
    def finalizeTable(t: String): (DataFrame, Seq[(ForeignKey, Either[Seq[Row], DataFrame])]) = {
      val table = catalog.table(t)
      var selection = table
      if (!full(t)) {
        val pk = catalog.primaryKey(t)
        val filter = keyed.get(t).map(_.toSeq.sortBy(_._1.mkString(",")).map {
          case (cols, keys) => keyIn(table, cols, keys.toSeq)
        }.reduce(_ || _))
        val parts = partial.get(t).toList ++ filter.map(table.where) ++ joined.getOrElse(t, Nil)
        selection = if (parts.size == 1) parts.head
          else parts.reduce(_ unionByName _).dropDuplicates(pk)
        // a selection pulled on its PK alone seeds the self-FK walk with
        // those keys, so the walk needs no seed checkpoint
        var seedKeys = keyed.get(t).filter(k => parts.size == 1 && k.size == 1 &&
          k.head._1.map(_.toLowerCase) == pk.map(_.toLowerCase)).map(_.head._2.toSeq)
        // self-FK first, exactly like update_partial_tables
        // (base.py:127): the recursive pull widens the seed the other FKs see
        for (fk <- catalog.foreignKeysOf(t, full, recursive = true)) {
          selection = selfClosure(table, seedKeys.toRight(selection), fk, pk, MaxDepth)
          seedKeys = None
        }
      }
      // each outgoing FK with its key types when it pulls by key set
      val outgoing = catalog.foreignKeysOf(t, full).map(fk => fk ->
        keyTypes(selection, catalog.table(fk.foreignTable), fk)
          .filter(_ => fitsBroadcast(selection.select(fk.columnPairs.map(p => col(p._1)): _*))))
      val byKeys = outgoing.collect { case (fk, Some(types)) => fk -> types }
      val (done, keys) = onFinal(t, selection,
        byKeys.map { case (fk, types) => keyColumn(fk, types) }, outgoing.exists(_._2.isEmpty))
      (done, byKeys.map(_._1).zip(keys).map { case (fk, k) => fk -> Left(k) } ++
        outgoing.collect { case (fk, None) =>
          fk -> Right(pull(catalog.table(fk.foreignTable), done, fk)) })
    }

    var selections = Map.empty[String, DataFrame]
    for (tables <- wave.groupMap(_._2)(_._1).toSeq.sortBy(_._1).map(_._2.toSeq.sorted)) {
      val done = new Array[(DataFrame, Seq[(ForeignKey, Either[Seq[Row], DataFrame])])](tables.size)
      // full tables are data-bound whole-table writes and run as concurrent
      // jobs; a partial table's finalize is mostly driver-side planning
      // around one small job, so those run one after another: overlapping
      // them gains only what idle cores allow, and made a dump's time
      // swing with the load on the host
      val (whole, picked) = tables.indices.partition(i => full(tables(i)))
      EpochStore.inParallel(whole.map(i => () => done(i) = finalizeTable(tables(i))): _*)
      picked.foreach(i => done(i) = finalizeTable(tables(i)))
      for ((t, (selection, pulls)) <- tables.zip(done)) {
        if (!full(t)) selections += t -> selection
        for ((fk, pulled) <- pulls) {
          val into = fk.foreignTable
          pulled match {
            case Left(keys) =>
              val on = fk.columnPairs.map(_._2)
              val sets = keyed.getOrElse(into, Map.empty)
              keyed(into) = sets + (on -> (sets.getOrElse(on, Set.empty) ++ keys.map(_.toSeq)))
            case Right(df) => joined(into) = df :: joined.getOrElse(into, Nil)
          }
        }
      }
    }
    selections
  }

  /** Cyclic FK graph: fixpoint over sweeps of semi-join pulls until the
    * ROW set stops growing — a cycle can add rows in the sweep that
    * discovers no new table, so table-set convergence alone would
    * under-close. Selections checkpoint each sweep so the stacked unions
    * don't deepen the plan unboundedly, and each selection's row count
    * rides its checkpoint via `observe()`; only the seeds' total before
    * the first sweep costs a count job. Rare case (real schemas are
    * acyclic) and bounded by MaxSweeps. Guarded for the full-tables-only
    * shape (partial = empty): the first sweep has no selections yet —
    * reduce over an empty collection would throw; 0 rows correctly forces
    * that first sweep (0 != prevRows). `onFinal` runs once the fixpoint
    * holds: concurrently over the full tables, then per selection.
    */
  private def sweepCycles(
      catalog: Catalog,
      fullTables: Seq[String],
      partial: Map[String, DataFrame],
      onFinal: Finalize): Map[String, DataFrame] = {
    val full = fullTables.toSet
    var selections = partial

    // Widen table t along its self-FK, then push its rows across each
    // outgoing FK. Self-FK first, exactly like update_partial_tables
    // (base.py:127): the recursive pull widens the seed the other FKs see.
    def process(t: String): Unit = {
      for (fk <- catalog.foreignKeysOf(t, full, recursive = true)
           if selections.contains(t)) {
        selections += t -> recursiveClosure(
          catalog.table(t), selections(t), fk, catalog.primaryKey(t))
      }
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
        process(t)
      val counted = selections.map { case (k, v) =>
        val n = Observation()
        k -> (v.observe(n, count(lit(1)).as("n")).localCheckpoint(), n)
      }
      selections = counted.map { case (k, (v, _)) => k -> v }
      rows = counted.values.map(_._2.get("n").asInstanceOf[Long]).sum
      sweeps += 1
    }
    EpochStore.inParallel(fullTables.map(t => () => { onFinal(t, catalog.table(t), Nil, false); () }): _*)
    for (t <- selections.keys.toSeq.sorted)
      selections += t -> onFinal(t, selections(t), Nil, false)._1
    selections
  }

  /** The types `fk`'s key tuple is kept in on the driver — those of the
    * referenced columns — when every part compares by value on the driver
    * and converts to them without loss (the same type, or a narrower
    * integral one); else None, and the pull semi-joins.
    */
  private def keyTypes(source: DataFrame, target: DataFrame, fk: ForeignKey): Option[Seq[DataType]] = {
    def types(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).schema.map(_.dataType)
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    val refTypes = types(target, fk.columnPairs.map(_._2))
    val widens = types(source, fk.columnPairs.map(_._1)).zip(refTypes).forall { case (from, to) =>
      comparesOnDriver(to) && (from == to ||
        integral.contains(from) && integral.indexOf(from) < integral.indexOf(to))
    }
    Some(refTypes).filter(_ => widens)
  }

  /** `fk`'s key tuple as a struct in `types`, null where any part is
    * null.
    */
  private def keyColumn(fk: ForeignKey, types: Seq[DataType]): Column = {
    val parts = fk.columnPairs.map(p => col(p._1))
    when(parts.map(_.isNotNull).reduce(_ && _),
      struct(parts.zip(types).zipWithIndex.map { case ((c, t), i) => c.cast(t).as(s"k$i") }: _*))
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
    *
    * In [[relatedData]], a table whose selection is pulled on its PK alone
    * walks from those key tuples instead: no seed checkpoint, only the
    * edge list is collected, and the result is one filtered scan.
    */
  def recursiveClosure(
      table: DataFrame,
      seed: DataFrame,
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int = MaxDepth): DataFrame =
    selfClosure(table, Left(seed), fk, primaryKey, maxDepth)

  /** [[recursiveClosure]] from a seed selection (Left) or from the seed's
    * PK tuples kept on the driver (Right): a walk from keys collects only
    * the edge list and returns one filtered scan, with no seed checkpoint.
    */
  private def selfClosure(
      table: DataFrame,
      seed: Either[DataFrame, Seq[Seq[Any]]],
      fk: ForeignKey,
      primaryKey: Seq[String],
      maxDepth: Int): DataFrame = {
    require(fk.isRecursive, s"$fk is not a self-FK")
    val edges = edgeList(table, fk, primaryKey)
    val (pkTypes, fkRefTypes) = edges.schema.map(_.dataType).splitAt(primaryKey.size)
    val (fkTypes, refTypes) = fkRefTypes.splitAt(fk.columnPairs.size)
    val walkable = fitsBroadcast(edges) &&
      fkTypes == refTypes && (pkTypes ++ fkTypes).forall(comparesOnDriver)
    seed match {
      case Right(keys) if walkable => walkOnDriver(table, Right(keys), edges, fk, primaryKey, maxDepth)
      case _ =>
        val seed0 = seed.fold(identity, keys => table.where(keyIn(table, primaryKey, keys)))
          .dropDuplicates(primaryKey).localCheckpoint()
        if (walkable) walkOnDriver(table, Left(seed0), edges, fk, primaryKey, maxDepth)
        else semiNaive(table, seed0, fk, primaryKey, maxDepth)
    }
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
    * level by level, the parents of the frontier not yet seen. A seed
    * selection (Left) is collected in the edge list's job and kept in the
    * result; seed keys (Right) pick their rows out of the edge list, and
    * the result is the table filtered to the seed and added keys.
    */
  private def walkOnDriver(
      table: DataFrame,
      seed: Either[DataFrame, Seq[Seq[Any]]],
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

    // one job: the table's edge list, with the seed's edge columns
    // (flagged) when the seed is a selection
    val (seedRows, tableRows) = seed match {
      case Left(seed0) =>
        edgeList(seed0, fk, primaryKey).withColumn("__graft_seed", lit(true))
          .union(edges.withColumn("__graft_seed", lit(false)))
          .collect().toSeq.partition(_.getBoolean(refAt.end))
      case Right(keys) =>
        val rows = edges.collect().toSeq
        val wanted = keys.toSet
        (rows.filter(r => wanted(tuple(r, pkAt))), rows)
    }
    // the table's rows as (PK, FK tuple), by the key tuple they are referenced by
    val byRef: Map[Seq[Any], Seq[(Seq[Any], Option[Seq[Any]])]] = tableRows
      .flatMap(r => key(r, refAt).map(_ -> (tuple(r, pkAt), key(r, fkAt))))
      .groupMap(_._1)(_._2)

    val seen = mutable.HashSet.from(seedRows.iterator.map(tuple(_, pkAt)))
    val added = mutable.ArrayBuffer.empty[Seq[Any]]
    var frontier = seedRows.flatMap(key(_, fkAt)).distinct
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      val delta = frontier.flatMap(byRef.getOrElse(_, Nil))
        .filter { case (pk, _) => seen.add(pk) }
      added ++= delta.map(_._1)
      frontier = delta.flatMap(_._2).distinct
      if (delta.nonEmpty) depth += 1
    }
    seed match {
      case Left(seed0) if added.isEmpty => seed0
      case Left(seed0) => seed0.unionByName(table.where(keyIn(table, primaryKey, added.toSeq)))
      case Right(keys) => table.where(keyIn(table, primaryKey, (keys ++ added).distinct))
    }
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
