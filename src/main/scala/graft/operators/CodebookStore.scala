package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistence for trained ANN codebooks.
  *
  * [[Similarity.trainPqCodebook]] / [[Similarity.trainIvfCodebook]] return
  * in-memory arrays, but a deployment trains ONCE and searches for months:
  * the codebook must be a saved artifact that survives the training job.
  * These writers store each codebook as a tiny self-describing parquet
  * dataset (one row per centroid), and the loaders reconstruct the exact
  * array the trainers produced, so a loaded codebook feeds the IDENTICAL
  * literal-codebook plan — save → load → search gives bit-identical results
  * to the in-memory run (spec-asserted in CodebookStoreSpec).
  *
  * Parquet (not JSON) so the artifact is schema-checked, splittable in
  * principle, and round-trips IEEE doubles exactly; the frames are a few
  * thousand rows at production sizes (m·k ≤ 4096 PQ centroids, k ≤ 65536
  * IVF cells), so `repartition(1)` keeps the artifact one file without any
  * driver-memory concern.
  *
  * WRITE-ONCE: a save to an existing path is refused, naming the path —
  * an overwrite deletes the old files before the new ones land, so a
  * crash mid-write would lose the codebook. Retrained codebooks go to a
  * new path.
  */
object CodebookStore {

  /** The write-once check (`errorifexists` backs it against a racer). */
  private def requireFresh(spark: SparkSession, path: String): Unit =
    require(!graft.core.FileIO.exists(spark, path),
      s"codebook artifact already exists at $path — codebooks are write-once")

  /** Save a flat PQ codebook (layout `cb[(mi·k + ci)·sub + d]`, the form
    * `pqEncode`/`pqSearch`/`ivfPqSearch` accept) as one parquet row per
    * (subspace, centroid_id) with its `dim/m`-wide centroid.
    */
  def savePqCodebook(
      spark: SparkSession, cb: Array[Double], m: Int, k: Int, path: String): Unit = {
    require(m > 0 && k > 0, s"m and k must be positive: m=$m k=$k")
    require(cb.nonEmpty && cb.length % (m * k) == 0,
      s"flat codebook length ${cb.length} must be a positive multiple of m × k = ${m * k}")
    requireFresh(spark, path)
    val sub = cb.length / (m * k)
    val rows = for (mi <- 0 until m; ci <- 0 until k) yield Row(
      mi, ci, cb.slice((mi * k + ci) * sub, (mi * k + ci + 1) * sub).toSeq)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        StructType(Seq(
          StructField("subspace", IntegerType, nullable = false),
          StructField("centroid_id", IntegerType, nullable = false),
          StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false))))
      .write.mode("errorifexists").parquet(path)
  }

  /** Load a PQ codebook artifact: returns `(m, k, flatCodebook)` where the
    * flat layout matches what [[savePqCodebook]] stored. Fails loudly on a
    * ragged or gappy artifact (missing (subspace, centroid) cells, mixed
    * centroid widths) rather than silently mis-laying-out the literal.
    */
  def loadPqCodebook(spark: SparkSession, path: String): (Int, Int, Array[Double]) = {
    val rows = spark.read.parquet(path)
      .select(col("subspace"), col("centroid_id"), col("centroid"))
      .orderBy("subspace", "centroid_id")
      .collect()
    require(rows.nonEmpty, s"empty PQ codebook artifact at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * k,
      s"PQ codebook artifact at $path has ${rows.length} centroids, expected m × k = ${m * k}")
    val sub = rows.head.getSeq[Double](2).length
    val cb = Array.ofDim[Double](m * k * sub)
    rows.foreach { r =>
      val c = r.getSeq[Double](2)
      require(c.length == sub,
        s"ragged PQ codebook artifact at $path: widths $sub and ${c.length}")
      var d = 0
      while (d < sub) { cb((r.getInt(0) * k + r.getInt(1)) * sub + d) = c(d); d += 1 }
    }
    (m, k, cb)
  }

  /** Save an IVF codebook (the `(cell_id, centroid)` pairs
    * `annIvf`/`semanticDedup`/`clusterSample`/`ivfPqSearch` accept) as one
    * parquet row per cell.
    */
  def saveIvfCodebook(
      spark: SparkSession, cb: Array[(Long, Array[Double])], path: String): Unit = {
    require(cb.nonEmpty, "refusing to save an empty IVF codebook")
    val dim = cb.head._2.length
    require(cb.forall(_._2.length == dim),
      s"ragged IVF codebook: centroid widths ${cb.map(_._2.length).distinct.mkString(",")}")
    requireFresh(spark, path)
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          cb.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 1),
        StructType(Seq(
          StructField("cell_id", LongType, nullable = false),
          StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false))))
      .write.mode("errorifexists").parquet(path)
  }

  /** Load an IVF codebook artifact in cell_id order. */
  def loadIvfCodebook(spark: SparkSession, path: String): Array[(Long, Array[Double])] = {
    val rows = spark.read.parquet(path)
      .select(col("cell_id"), col("centroid"))
      .orderBy("cell_id")
      .collect()
    require(rows.nonEmpty, s"empty IVF codebook artifact at $path")
    val dim = rows.head.getSeq[Double](1).length
    rows.map { r =>
      val c = r.getSeq[Double](1)
      require(c.length == dim,
        s"ragged IVF codebook artifact at $path: widths $dim and ${c.length}")
      (r.getLong(0), c.toArray)
    }
  }
}
