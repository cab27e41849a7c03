package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, ForeignKey, TableGraph}
import graft.operators.Closure

class ClosureSpec extends SparkSpec {
  private lazy val cat = Catalog.tpch(spark, sfDir)

  test("pull selects exactly the referenced rows") {
    val partialOrders = cat.table("orders").where(col("o_totalprice") > 400000)
    val pulled = Closure.pull(cat.table("customer"), partialOrders,
      ForeignKey("orders", "o_custkey", "customer", "c_custkey"))
    val expected = partialOrders.select("o_custkey").distinct().count()
    // every referenced custkey exists in customer (FK integrity of testdata)
    assert(pulled.count() === expected)
  }

  test("relatedData closes over multi-hop FK chains") {
    val seed = cat.table("lineitem").where(col("l_quantity") === 50)
    val sel = Closure.relatedData(cat, partial = Map("lineitem" -> seed))
    // the closure must have pulled every table on a path from lineitem
    assert(Set("orders", "customer", "nation", "region", "part", "supplier")
      .subsetOf(sel.keySet))
    // consistency: every l_orderkey in the seed exists in pulled orders
    val missing = seed.select(col("l_orderkey").as("k")).distinct()
      .join(sel("orders"), col("k") === col("o_orderkey"), "left_anti")
    assert(missing.count() === 0)
  }

  test("relatedData skips pulls into full tables and rejects overlap") {
    val seed = cat.table("orders").where(col("o_totalprice") > 400000)
    val sel = Closure.relatedData(cat, fullTables = Seq("customer"),
      partial = Map("orders" -> seed))
    assert(!sel.contains("customer")) // dumped whole, never pulled into
    // but customer (full) still pulls its own FKs → nation selected
    assert(sel.contains("nation"))
    intercept[IllegalArgumentException] {
      Closure.relatedData(cat, fullTables = Seq("orders"), partial = Map("orders" -> seed))
    }
  }

  /** `closure`'s rows under both paths of recursiveClosure — the driver
    * walk, which the default broadcast gate admits for these small
    * tables, and the semi-naive loop, forced by a gate of -1 — asserted
    * row-equal, with the jobs each path ran.
    */
  private case class Closed(rows: Set[Row], walkJobs: Int, loopJobs: Int)

  private def bothPaths(closure: => DataFrame): Closed = {
    var walked: DataFrame = null
    var iterated: DataFrame = null
    val walkJobs = jobsOf { walked = closure }
    val loopJobs = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      jobsOf { iterated = closure }
    }
    val rows = walked.collect().toSeq
    assert(rows.sortBy(_.toString) === iterated.collect().toSeq.sortBy(_.toString))
    assert(walkJobs <= WalkJobs, s"driver walk ran $walkJobs jobs")
    Closed(rows.toSet, walkJobs, loopJobs)
  }

  // the seed's dedup shuffle and checkpoint, and the edge-list collect
  private val WalkJobs = 3

  private lazy val mgrTree = cat.table("customer")
    .withColumn("c_mgrkey", floor(col("c_custkey") / 2).cast("long"))
  private val mgrFk = ForeignKey("customer", "c_mgrkey", "customer", "c_custkey")

  private def custKeys(c: Closed): Set[Long] = c.rows.map(_.getAs[Long]("c_custkey"))

  test("recursiveClosure reaches all ancestors and terminates") {
    // ancestors of 100: 50,25,12,6,3,1,0 — and 0 is its own manager
    // (floor(0/2)=0), so the self-loop must not spin the iteration.
    val seed = mgrTree.where(col("c_custkey") === 100)
    val closed = bothPaths(Closure.recursiveClosure(mgrTree, seed, mgrFk, Seq("c_custkey")))
    assert(custKeys(closed) === Set(100L, 50L, 25L, 12L, 6L, 3L, 1L, 0L))
    // the loop checkpoints each of the seven levels; the walk does not
    assert(closed.loopJobs >= closed.walkJobs + 7, closed)
    // key names resolve case-insensitively on both paths, as in a pull
    val upper = bothPaths(Closure.recursiveClosure(mgrTree, seed,
      ForeignKey("customer", "C_MGRKEY", "customer", "C_CUSTKEY"), Seq("C_CUSTKEY")))
    assert(upper.rows === closed.rows)
  }

  test("recursiveClosure stops after maxDepth levels on both paths") {
    val seed = mgrTree.where(col("c_custkey").isin(100, 7))
    def upTo(depth: Int) = custKeys(bothPaths(
      Closure.recursiveClosure(mgrTree, seed, mgrFk, Seq("c_custkey"), maxDepth = depth)))
    assert(upTo(0) === Set(100L, 7L))
    assert(upTo(1) === Set(100L, 50L, 7L, 3L))
    // levels count from the seed set: 7's chain reaches 0 at level 3,
    // 100's reaches 12
    assert(upTo(3) === Set(100L, 50L, 25L, 12L, 7L, 3L, 1L, 0L))
    assert(upTo(20) === Set(100L, 50L, 25L, 12L, 6L, 3L, 1L, 0L, 7L))
  }

  test("recursiveClosure matches BFS reachability on seeded random graphs") {
    import spark.implicits._
    // random parent pointers with cycles and self-loops — the shapes a
    // real org/category hierarchy degrades into; compare the fixpoint
    // against a direct BFS over the parent relation
    val rnd = new scala.util.Random(31)
    val n = 200
    val rows = Seq.tabulate(n)(i => (i.toLong, rnd.nextInt(n).toLong))
    val base = rows.toDF("id", "parent")
    val parentOf = rows.toMap
    def bfs(start: Long, maxDepth: Int): Set[Long] = {
      var seen = Set(start)
      var frontier = Set(start)
      var depth = 0
      while (frontier.nonEmpty && depth < maxDepth) {
        val next = frontier.map(parentOf).diff(seen)
        seen ++= next
        frontier = next
        depth += 1
      }
      seen
    }
    for (start <- Seq(0L, 17L, 123L, 199L); maxDepth <- Seq(2, 100)) {
      val seed = base.where(col("id") === start)
      val got = bothPaths(Closure.recursiveClosure(base, seed,
          ForeignKey("t", "parent", "t", "id"), Seq("id"), maxDepth))
        .rows.map(_.getLong(0))
      assert(got === bfs(start, maxDepth), s"closure from $start diverged from BFS")
    }
  }

  test("composite pull and recursive closure follow the whole key tuple") {
    import spark.implicits._
    // parent keyed (k1, k2); child references BOTH columns. A
    // first-column pull would drag (1, 'b') in; the exact pull must not.
    val parent = Seq((1L, "a", "p1"), (1L, "b", "p2"), (2L, "a", "p3"))
      .toDF("k1", "k2", "name")
    val child = Seq((10L, 1L, "a"), (11L, 3L, null)) // half-null: pulls nothing
      .toDF("id", "r1", "r2")
    val fk = ForeignKey("child", "r1", "parent", "k1", Seq(("r2", "k2")))
    val pulled = Closure.pull(parent, child, fk).collect()
    assert(pulled.map(_.getString(2)).toSeq === Seq("p1"))

    // composite self-FK: (dept, mgr) → (dept, emp) — the chain must stay
    // inside the department even where mgr ids collide across depts
    val emp = Seq(
      ("x", 1L, null.asInstanceOf[java.lang.Long]),
      ("x", 2L, java.lang.Long.valueOf(1L)),
      ("x", 3L, java.lang.Long.valueOf(2L)),
      ("y", 2L, null.asInstanceOf[java.lang.Long]), // same id 2, other dept
      ("y", 4L, java.lang.Long.valueOf(2L)))
      .toDF("dept", "emp_id", "mgr_id")
    // `dept` plays a PK part, an FK part and a referenced part, spelled
    // three ways: names resolve case-insensitively on both paths
    val selfFk = ForeignKey("emp", "mgr_id", "emp", "emp_id", Seq(("DEPT", "dept")))
    val closed = bothPaths(Closure.recursiveClosure(
      emp, emp.where(col("dept") === "x" && col("emp_id") === 3),
      selfFk, Seq("Dept", "emp_id")))
    val got = closed.rows.map(r => (r.getString(0), r.getLong(1)))
    assert(got === Set(("x", 3L), ("x", 2L), ("x", 1L)),
      s"must not cross into dept y via the shared mgr id: $got")
  }

  /** relatedData's selections under the key-set pulls the default gate
    * admits for these small inputs and under the semi-join path (a gate of
    * -1), asserted row-equal and duplicate-free per table.
    */
  private def bothPulls(
      catalog: Catalog, partial: Map[String, DataFrame],
      full: Seq[String] = Nil): Map[String, DataFrame] = {
    def rowsOf(sel: Map[String, DataFrame]) =
      sel.map { case (t, df) => t -> df.collect().map(_.toString).sorted.toSeq }
    val keyed = Closure.relatedData(catalog, full, partial)
    val keyedRows = rowsOf(keyed)
    val joinedRows = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      rowsOf(Closure.relatedData(catalog, full, partial))
    }
    assert(keyedRows.keySet === joinedRows.keySet)
    keyedRows.foreach { case (t, rows) =>
      assert(rows === joinedRows(t), t)
      assert(rows.distinct === rows, s"$t holds a duplicate row")
    }
    keyed
  }

  /** Whether `df`'s optimized plan joins or unions (a key-set pull does
    * neither). */
  private def joinsOrUnions(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])

  /** A catalog over in-memory frames. */
  private def memCatalog(tables: Map[String, DataFrame], fks: Seq[ForeignKey],
      pks: Map[String, Seq[String]]): Catalog =
    new Catalog(spark, "mem", tables.keys.toSeq.sorted, fks, pks, reader = Some(tables))

  test("key-set pulls match semi-joins over a multi-hop chain") {
    val seed = cat.table("lineitem").where(col("l_quantity") === 50)
    val sel = bothPulls(cat, Map("lineitem" -> seed))
    assert(sel.keySet === Set("lineitem", "orders", "customer", "nation", "region", "part", "supplier"))
    sel.foreach { case (t, df) => assert(!joinsOrUnions(df), t) }
  }

  test("key-set pulls match semi-joins on two FKs into one table") {
    // nation is pulled from customer and from supplier: one filter over
    // one scan
    val sel = bothPulls(cat, Map(
      "customer" -> cat.table("customer").where(col("c_custkey") % 7 === 0),
      "supplier" -> cat.table("supplier").where(col("s_suppkey") % 3 === 0)))
    assert(!joinsOrUnions(sel("nation")))
    assert(sel("nation").count() > 1)
  }

  test("key-set pulls match semi-joins into a table with its own seed") {
    bothPulls(cat, Map(
      "orders" -> cat.table("orders").where(col("o_totalprice") > 400000),
      "nation" -> cat.table("nation").where(col("n_nationkey") < 3)))
    // and from a full table into a seeded one
    bothPulls(cat, Map("nation" -> cat.table("nation").where(col("n_nationkey") === 0)),
      full = Seq("supplier"))
  }

  test("key-set pulls match semi-joins on a composite FK with null parts") {
    import spark.implicits._
    val parent = Seq((1L, "a", "p1"), (1L, "b", "p2"), (2L, "a", "p3"), (3L, "c", "p4"))
      .toDF("k1", "k2", "name")
    // MATCH SIMPLE: a key with a null part references nothing
    val child = Seq[(Long, java.lang.Long, String)](
        (10L, 1L, "a"), (11L, 3L, null), (12L, null, "b"), (13L, 2L, "a"), (14L, 2L, "a"))
      .toDF("id", "r1", "r2")
    val c = memCatalog(Map("parent" -> parent, "child" -> child),
      Seq(ForeignKey("child", "r1", "parent", "k1", Seq(("r2", "k2")))),
      Map("parent" -> Seq("k1", "k2"), "child" -> Seq("id")))
    val sel = bothPulls(c, Map("child" -> child))
    assert(sel("parent").collect().map(_.getString(2)).toSet === Set("p1", "p3"))
  }

  test("key-set pulls match semi-joins on a widened key and a non-PK key") {
    import spark.implicits._
    // an INT FK into a BIGINT key, and an FK into a non-unique non-PK
    // column of the same table: two column sets OR'd over one scan
    val parent = Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "z"), (5L, "w"))
      .toDF("id", "code")
    val child = Seq[(Long, Integer, String)]((10L, 1, "z"), (11L, null, "x"), (12L, 9, null))
      .toDF("cid", "pid", "pcode")
    val c = memCatalog(Map("parent" -> parent, "child" -> child),
      Seq(ForeignKey("child", "pid", "parent", "id"), ForeignKey("child", "pcode", "parent", "code")),
      Map("parent" -> Seq("id"), "child" -> Seq("cid")))
    val sel = bothPulls(c, Map("child" -> child))
    assert(sel("parent").collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    assert(!joinsOrUnions(sel("parent")))
  }

  test("key-set pulls match semi-joins into a self-FK seeded by pulled keys") {
    val mgr = new Catalog(spark, sfDir, Seq("customer", "orders"),
      Seq(ForeignKey("orders", "o_custkey", "customer", "c_custkey"), mgrFk),
      Map("customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey")),
      reader = Some(Map("customer" -> mgrTree, "orders" -> cat.table("orders"))))
    val seed = Map("orders" -> cat.table("orders").where(col("o_totalprice") > 400000))
    // the orders' key collect and the customers' edge-list collect: the
    // walk starts from the pulled keys, with no seed checkpoint
    assert(jobsOf(Closure.relatedData(mgr, partial = seed)) === 2)
    val sel = bothPulls(mgr, seed)
    assert(!joinsOrUnions(sel("customer")))
    // the tree's root is every walk's last ancestor
    assert(sel("customer").where(col("c_custkey") === 0).count() === 1)
  }

  test("relatedData converges row-wise on cyclic FK graphs") {
    // synthetic cycle: orders→customer and customer→orders (by pk);
    // row-level fixpoint must leave no dangling reference on either edge.
    val cyc = new Catalog(spark, sfDir, Seq("orders", "customer"),
      Seq(ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
        ForeignKey("customer", "c_custkey", "orders", "o_orderkey")),
      Map("orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey")))
    val seed = cyc.table("orders").where(col("o_totalprice") > 400000)
    cyc.tables.foreach(cyc.table(_))
    var sel: Map[String, DataFrame] = null
    val jobs = jobsOf { sel = Closure.relatedData(cyc, partial = Map("orders" -> seed)) }
    // the seeds' count, then per sweep only each selection's checkpoint
    // (its row count rides it): a unioned count job after every sweep
    // would add its own aggregate stages, 44 jobs in all on this input
    assert(jobs === 32)
    assert(sel.contains("orders") && sel.contains("customer"))
    val danglingCust = sel("orders").select(col("o_custkey").as("k")).distinct()
      .join(sel("customer"), col("k") === col("c_custkey"), "left_anti")
    assert(danglingCust.count() === 0)
    val danglingOrd = sel("customer").select(col("c_custkey").as("k")).distinct()
      .join(sel("orders"), col("k") === col("o_orderkey"), "left_anti")
      .join(cyc.table("orders"), col("k") === col("o_orderkey"), "left_semi")
    assert(danglingOrd.count() === 0) // every resolvable back-edge is closed
  }

  test("cyclic catalog with only full tables (no partial seeds) does not throw") {
    val cyc = new Catalog(spark, sfDir, Seq("orders", "customer"),
      Seq(ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
        ForeignKey("customer", "c_custkey", "orders", "o_orderkey")),
      Map("orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey")))
    // partial = empty: the first row-count probe sees no selections yet —
    // the guarded seed count must return 0, not throw on an empty reduce
    val sel = Closure.relatedData(cyc, fullTables = Seq("orders", "customer"))
    // full tables are never pulled *into*, so nothing is selected
    assert(sel.isEmpty)
  }

  test("topo levels respect every FK edge") {
    val lv = TableGraph.loadLevels(cat.tables, cat.foreignKeys)
    cat.foreignKeys.filterNot(_.isRecursive).foreach { fk =>
      assert(lv(fk.table) > lv(fk.foreignTable), s"$fk violates load order")
    }
    assert(TableGraph.loadOrder(cat.tables, cat.foreignKeys).head === "documents")
  }

  test("loadLevels detects cycles") {
    val fks = Seq(ForeignKey("a", "x", "b", "y"), ForeignKey("b", "y", "a", "x"))
    intercept[IllegalArgumentException] {
      TableGraph.loadLevels(Seq("a", "b"), fks)
    }
  }

  test("rowCount answers from parquet footers and matches count()") {
    // exactness: the footer sum IS the scan count, for a single-file and
    // a multi-file table alike
    for (t <- Seq("region", "lineitem", "documents"))
      assert(cat.rowCount(t) === cat.table(t).count(), t)
    intercept[IllegalArgumentException] { cat.rowCount("nope") }
  }
}
