package graft

import graft.core.ParquetFiles

class ParquetFilesSpec extends SparkSpec {

  test("footer schema equals Spark's inference on every sf0.001 table, without a job") {
    // events.ts is TIMESTAMP(NANOS) in some generations, which Spark reads
    // only as epoch-nanos longs (the conf Catalog.tpch sets)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
      assert(tables.length >= 10, tables.toSeq)
      for (t <- tables) {
        val path = s"$sfDir/$t"
        assert(jobsOf(ParquetFiles.schema(spark, path)) === 0, t)
        assert(ParquetFiles.schema(spark, path) === spark.read.parquet(path).schema, t)
      }
    }
  }

  test("a partitioned or missing path falls back to Spark's own inference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pf").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "part").write.partitionBy("part").parquet(s"$dir/t")
    assert(ParquetFiles.dataFiles(spark, s"$dir/t").isEmpty)
    assert(ParquetFiles.rowCount(spark, s"$dir/t").isEmpty)
    assert(ParquetFiles.schema(spark, s"$dir/t") === spark.read.parquet(s"$dir/t").schema)
    assert(ParquetFiles.read(spark, s"$dir/t").count() === 2)
    intercept[org.apache.spark.sql.AnalysisException](ParquetFiles.schema(spark, s"$dir/nope"))
  }
}
