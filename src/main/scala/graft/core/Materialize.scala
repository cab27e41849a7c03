package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}

/** Lineage-cut policy for operator-internal frames that are about to be
  * referenced several times (store founding/append/search batches, graph
  * inputs): materialize COMPUTED subtrees once, but leave bare relation
  * scans alone — for a plain parquet scan the materialization job costs
  * about what the re-reads would (r21 verdict #3: `ivfpq_ingest_search`
  * paid 10–15% for checkpointing a filtered scan that each consumer could
  * just re-scan).
  *
  * The cut itself is `localCheckpoint()` by default — cheap, in-memory,
  * spillable — whose blocks die with their executor: on a preemptible
  * multi-node cluster a lost executor fails the job instead of recomputing
  * (r21 verdict #4). `spark.graft.materialize.reliable=true` switches every
  * cut this helper makes to a parquet spill under the session checkpoint
  * dir (the [[graft.operators.Dedup]] barrier's escape hatch, shared):
  * fault-tolerant file lineage at the price of one write+read per cut.
  * Spill files live until JVM exit (one shutdown hook drains a registry,
  * the dedupGroups temp-root discipline) — bounded by the number of store
  * operations per session, each O(batch).
  */
object Materialize {

  /** True when the analyzed plan is a bare relation scan: a leaf under
    * nothing but projections, filters and aliases. Re-running such a
    * subtree is one scan — cheaper than a materialization job + block
    * pinning. Anything with an aggregate, join, generator or union counts
    * as computed.
    */
  def bareScan(df: DataFrame): Boolean = bare(df.queryExecution.analyzed)

  private def bare(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, c) => bare(c)
    case Filter(_, c) => bare(c)
    case SubqueryAlias(_, c) => bare(c)
    case _ => false
  }

  /** Materialize `df` once (localCheckpoint, or the reliable parquet spill
    * under `spark.graft.materialize.reliable=true`) so later references
    * replay blocks/files instead of the plan.
    */
  def frame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.get("spark.graft.materialize.reliable", "false").toBoolean
    if (!reliable) df.localCheckpoint()
    else {
      val ckpt = spark.sparkContext.getCheckpointDir
      val root = graft.operators.Dedup.resolveSpillRoot(None,
        ckpt, spark.sparkContext.isLocal)
      val p = s"$root/graft-mat-${java.util.UUID.randomUUID()}"
      // reclaim the whole root only when this call CREATED it (driver-temp
      // fallback); a session checkpoint dir may hold other state — reclaim
      // just the per-cut subdirectory there
      FileIO.reclaimOnExit(if (ckpt.isEmpty) root else p)
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
  }

  /** [[frame]] unless `input` (the frame the derivation was built FROM) is
    * a bare relation scan — the gate of r21 verdict #3: computed subtrees
    * keep the cut, plain scans skip it and let each consumer re-scan.
    */
  def frameUnlessBareScan(derived: DataFrame, input: DataFrame): DataFrame =
    if (bareScan(input)) derived else frame(derived)
}
