package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their schema from a footer on the driver.
  *
  * `spark.read.parquet(paths)` without a schema infers one by reading the
  * first data file's footer in a one-task Spark job. [[read]] reads that
  * same footer on the driver instead and pins the schema, so planning a
  * read runs no job. [[rowCount]] sums the footers' row counts the same
  * way. Only flat layouts are handled: a directory with subdirectories
  * (a `key=value` partitioned table) falls back to Spark's own inference.
  */
private[graft] object ParquetFiles {

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The parquet data files of `path` in listing order: the path itself
    * when it is a file, else its direct non-hidden `.parquet` children.
    * `None` when the path is missing, a directory holds a non-hidden
    * subdirectory, or no data file is found.
    */
  def dataFiles(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else fs.getFileStatus(root) match {
      case st if st.isFile => Some(Seq(st))
      case _ =>
        val children = fs.listStatus(root).toSeq.filterNot(st => hidden(st.getPath.getName))
        val files = children.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        if (children.exists(_.isDirectory) || files.isEmpty) None else Some(files)
    }
  }

  /** `f` over the footer of `file`, read on the driver. */
  private def footer[A](spark: SparkSession, file: FileStatus)(f: ParquetMetadata => A): A = {
    val in = HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try f(r.getFooter) finally r.close()
  }

  /** The schema `spark.read.parquet(paths: _*)` infers, from the first
    * data file's footer when the first path is flat (no job), else from
    * Spark's inference (one job).
    */
  def schema(spark: SparkSession, paths: String*): StructType = {
    require(paths.nonEmpty, "no parquet path to read")
    dataFiles(spark, paths.head)
      .flatMap(files => footer(spark, files.head)(
        SessionBridge.footerSchema(spark, files.head.getPath, _)))
      .getOrElse(spark.read.parquet(paths: _*).schema)
  }

  /** `spark.read.parquet(paths: _*)` with the schema taken by [[schema]]. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schema(spark, paths: _*)).parquet(paths: _*)

  /** Rows in `path`, summed from its footers; `None` when the layout is
    * not flat (see [[dataFiles]]).
    */
  def rowCount(spark: SparkSession, path: String): Option[Long] =
    dataFiles(spark, path).map(_.iterator.map(footer(spark, _)(
      _.getBlocks.asScala.iterator.map(_.getRowCount).sum)).sum)
}
