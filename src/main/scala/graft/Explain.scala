package graft

/** Plan-audit tool: prints the formatted physical plan of selected
  * `SparkEntry.entries` — the artifact behind SURVEY §6's plan
  * audits (pushdown reaching scans, broadcasts where intended, no stray
  * BroadcastNestedLoopJoin / corpus-wide Window).
  *
  * Usage: `runMain graft.Explain <sfDir> <query1,query2,...> [final]`
  *
  * With the third arg `final`, each query is EXECUTED first and the
  * adaptive plan printed AFTER execution (isFinalPlan=true) — the only
  * view that shows what AQE actually did (ReusedExchange dedup,
  * AQEShuffleRead coalescing, runtime join rewrites). The pre-execution
  * dump shows duplicated subtrees that the runtime may never pay.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val selected = Harness.select(SparkEntry.entries, args.lift(1),
      "the query list argument")(_.name)
    val showFinal = args.length > 2 && args(2) == "final"
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (e <- selected) {
      println(s"\n========== ${e.name} ==========")
      val df = e.build(spark, sfDir)
      df.explain("formatted")
      if (showFinal) {
        df.collect(): Unit // execute THIS plan so AQE finalizes it
        println(s"---------- ${e.name}: executed (AQE-final) plan ----------")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
