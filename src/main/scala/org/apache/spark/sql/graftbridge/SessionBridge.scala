package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Reads of the session conf for graft's planning decisions. The session
  * conf (`sessionState`) and `StructType.asNullable` are not public, hence
  * this file's package.
  */
object SessionBridge {

  /** The schema `spark.read.parquet` infers from this footer, computed on
    * the driver. `None` when the session merges schemas across files
    * (`spark.sql.parquet.mergeSchema`): then one footer does not decide
    * the schema. Otherwise Spark's own schema key when the writer left
    * one, else the footer's parquet schema converted under the session
    * conf; every field nullable, as a file source reads it.
    */
  def footerSchema(spark: SparkSession, file: Path, meta: ParquetMetadata): Option[StructType] = {
    val conf = spark.asInstanceOf[ClassicSession].sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else Some(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, meta), new ParquetToSparkSchemaConverter(conf)).asNullable)
  }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (negative: off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[ClassicSession].sessionState.conf.autoBroadcastJoinThreshold
}
