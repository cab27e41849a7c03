package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. The bus is drained before the
    * listener joins and before it is read, so no job of an earlier call
    * is counted and none of this one is missed.
    */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** OS processes this JVM started while `body` runs: the
    * `jdk.ProcessStart` events of an in-process flight recording, so only
    * this process's own starts are counted.
    */
  def forksOf(body: => Any): Int = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val file = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .count(_.getEventType.getName == "jdk.ProcessStart")
    } finally {
      rec.close()
      java.nio.file.Files.delete(file)
    }
  }

  /** Asserts, for every directory under `root` that holds parquet files,
    * that the schema read from a footer on the driver equals the one
    * `spark.read.parquet` infers. */
  def assertFooterSchemas(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    val dirs = try walk.iterator.asScala.filter(d =>
        java.nio.file.Files.isDirectory(d) &&
          Option(d.toFile.list).exists(_.exists(_.endsWith(".parquet"))))
        .map(_.toString).toList
      finally walk.close()
    assert(dirs.nonEmpty, s"no parquet directory under $root")
    dirs.foreach(d =>
      assert(graft.core.ParquetFiles.schema(spark, d) === spark.read.parquet(d).schema, d))
  }

  /** `body` with session conf `key` set to `value`, the prior value
    * restored after. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  /** Four threads and partitions whatever the host, so plan shapes and
    * partition-sensitive results do not vary with the machine. */
  lazy val session: SparkSession = GraftSession.local(4)
}
