package graft
import java.nio.file.{Files, Paths}
import graft.Harness.json
import graft.SparkEntry.{Exempt, Sql}
/** Correctness dump: each SparkEntry.entries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare in `scripts/check.py`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Iteration aid (mirrors Bench): SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts
    // the dump; oracle_sql.json still carries every entry for the driver.
    val selected = Harness.select(SparkEntry.entries,
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY"), "SPARK_GRAFT_VERIFY_ONLY")(_.name)
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // A throwing query must NOT just vanish from the output keyset (that is
    // how a 3-query regression once hid for a full round): record every
    // failure as an explicit artifact — a per-query marker file plus an
    // aggregate failures.json — so a broken query surfaces loudly.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { e =>
      try e.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case t: Throwable =>
        val msg = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
        System.err.println(s"[verify] ${e.name} failed: $msg")
        failures(e.name) = msg
        Files.writeString(Paths.get(s"$outDir/${e.name}._FAILED"), msg)
      }
    }
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    val oracles = SparkEntry.entries.collect { case SparkEntry.Entry(n, _, Sql(sql)) => n -> sql }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(oracles))
    // Always written (possibly empty {}) so its absence vs emptiness is
    // never ambiguous to the driver or a human diffing rounds.
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    // Machine-readable counts — the docs regenerate their coverage line
    // from this (scripts/update_counts.py) instead of hand-maintaining
    // numbers that drift.
    val rowsOnly = SparkEntry.entries.collect {
      case SparkEntry.Entry(n, _, Exempt(_)) => n }.sorted
    def arr(xs: Seq[String]) = xs.map(json).mkString("[", ",", "]")
    val summary = Seq(
      s"${json("queries")}: ${SparkEntry.entries.size}",
      s"${json("oracles")}: ${oracles.size}",
      s"${json("rows_only")}: ${arr(rowsOnly)}",
      s"${json("failed")}: ${arr(failures.keys.toSeq.sorted)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    spark.stop()
  }
}
