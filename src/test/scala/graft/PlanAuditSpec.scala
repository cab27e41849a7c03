package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal, Size}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, VectorIndexStore}

/** The plan-audit checklist as a SUITE — the invariants the repo's scale
  * claims rest on, pinned so a refactor that silently regresses a plan
  * shape (a lost pushdown, a broadcast that became a sort-merge join, a
  * corpus-volume sort sneaking in) fails the build instead of waiting
  * for a bench round to notice. Each assertion names the claim it
  * guards. Executed-plan strings are stable in this pinned local
  * configuration; the assertions check operator PRESENCE/ABSENCE, not
  * formatting.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_pricing: the filter reaches the parquet scan as a pushed predicate") {
    val plan = planOf("q1_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n${plan.take(2000)}")
  }

  test("q1_pricing: the scan reads only the query's columns") {
    val plan = planOf("q1_pricing")
    // ReadSchema must exclude wide unused columns — l_comment is the
    // canary: reading it means column pruning broke and a 100 TB scan
    // pays the fattest column for nothing
    assert(!plan.contains("l_comment"), "scan reads l_comment — pruning lost")
    assert(plan.contains("ReadSchema"), s"no parquet scan in:\n${plan.take(2000)}")
  }

  test("q5_regional: small dimensions broadcast; the fact table never sort-merge-joins them") {
    val plan = planOf("q5_regional")
    assert(plan.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join crept into the star join:\n${plan.take(3000)}")
  }

  test("bm25_topk: global top-k is TakeOrderedAndProject — no corpus-volume sort") {
    val plan = planOf("bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k lost its bounded global rank:\n${plan.take(2000)}")
  }

  test("bm25_batch: per-query top-k plants a partial WindowGroupLimit below the exchange") {
    val plan = planOf("bm25_batch")
    assert(plan.contains("WindowGroupLimit"),
      s"batch top-k lost its map-side cap — the exchange ships full scored volume:\n${plan.take(2000)}")
  }

  test("ann_topk: the query side broadcasts — the corpus is never shuffled on its own key") {
    val plan = planOf("ann_topk")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query batch stopped broadcasting:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      "corpus-side sort-merge join — the scale contract is broadcast-only here")
  }

  test("incremental_dedup: the corpus side stays a semi-join build, not a recomputed shuffle") {
    val plan = planOf("incremental_dedup")
    // the anti-join against corpus fingerprints must be hash-based
    assert(plan.contains("LeftAnti"), s"ingest dedup lost its anti-join:\n${plan.take(2000)}")
  }

  test("custom expressions run inside whole-stage codegen in a real query plan") {
    // end-to-end guard beside CodegenGuardSpec's direct Janino compile:
    // the DotProduct scoring stage of ann_topk must sit inside a
    // WholeStageCodegen subtree, not an interpreted fallback project
    // AQE reports "0 subtrees" on an unexecuted adaptive plan — pin it
    // off for this audit so the codegen explain sees the physical tree
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val codegen =
      try SparkEntry.queries("ann_topk")(spark, sfDir).queryExecution
        .explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(codegen.contains("WholeStageCodegen subtree"),
      s"no codegen subtree:\n${codegen.take(1500)}")
    // the scoring projection (graft.functions.DotProduct) is in one of them
    assert(codegen.contains("dotproduct") || codegen.contains("DotProduct") ||
      codegen.contains("dot_product"),
      "DotProduct not visible in any codegen subtree")
  }

  test("IVFADC probe-cell fan-out: no size(...) > 0 filter inferred from the Generate") {
    // InferFiltersFromGenerate adds `size(cells) > 0` below a non-outer
    // explode of an attribute; pushed down, it re-expands the O(nc²)
    // probe-cells expression over the centroid cosines per scanned row
    // (123 s vs 1.2 s at sf0.1). The kernel's explode_outer skips the rule:
    // pinned for both callers and both LUT placements.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qf = col("vec_id") % 7 === 0
    val root = java.nio.file.Files.createTempDirectory("graft-audit-ivfadc")
    def served(residual: Boolean): DataFrame = {
      val path = root.resolve(s"store-$residual").toString
      VectorIndexStore.save(emb, path, residual = residual)
      VectorIndexStore.search(emb.where(qf), path, kNN = 5, nprobe = 2)
    }
    val plans = for (residual <- Seq(false, true); (caller, df) <- Seq(
        "ivfPqSearch" -> Similarity.ivfPqSearch(emb, qf, kNN = 5, nprobe = 2,
          residual = residual),
        "VectorIndexStore.search" -> served(residual)))
      yield s"$caller residual=$residual" -> df.queryExecution.optimizedPlan
    val inferred = plans.filter { case (_, plan) =>
      plan.flatMap(_.expressions).exists(_.exists {
        case GreaterThan(_: Size, Literal(0, _)) => true
        case _ => false
      })
    }
    assert(inferred.map(_._1).isEmpty, inferred.map(_._2).mkString("\n"))
  }
}
