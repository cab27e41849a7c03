package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.core.EpochStore

/** The epoch-swap commit primitive: sequential commits advance the
  * manifest; a commit whose epoch read is stale (a racing writer) must
  * fail loudly instead of silently absorbing the other writer's epoch.
  */
class EpochStoreSpec extends SparkSpec {

  test("commit guards against a racing writer's stale epoch read") {
    val path = Files.createTempDirectory("graft-epoch")
      .resolve("store").toString
    EpochStore.commitEpoch(spark, path, 1) // founding
    EpochStore.commitEpoch(spark, path, 2) // normal append
    // a writer that read epoch 1, lost the race, and now tries to
    // commit "its" epoch 2 would clobber the winner's rows — throw
    intercept[IllegalStateException] {
      EpochStore.commitEpoch(spark, path, 2)
    }
    // same for a skipped epoch (stale read in the other direction)
    intercept[IllegalStateException] {
      EpochStore.commitEpoch(spark, path, 4)
    }
    assert(EpochStore.currentEpoch(spark, path) === 2L)
  }

  test("inParallel tasks start their jobs in the caller's job group, and only then") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))): Unit
    }
    def jobGroups(body: => Unit): Seq[Option[String]] = {
      ListenerBusDrain(sc)
      groups.clear()
      body
      ListenerBusDrain(sc)
      groups.asScala.toSeq
    }
    val tasks = (1 to 6).map(i => () => { spark.range(0, i * 10, 1, 2).collect(); () })
    sc.addSparkListener(listener)
    try {
      val tagged = jobGroups {
        sc.setJobGroup("graft-caller", "inParallel spec")
        try EpochStore.inParallel(tasks: _*)
        finally sc.clearJobGroup()
      }
      assert(tagged.size >= tasks.size && tagged.forall(_.contains("graft-caller")), tagged)
      // the pooled threads that ran those tasks carry no group afterwards
      val untagged = jobGroups(EpochStore.inParallel(tasks: _*))
      assert(untagged.size >= tasks.size && untagged.forall(_.isEmpty), untagged)
    } finally sc.removeSparkListener(listener)
  }

  test("a truncated or corrupt marker file names its path loudly") {
    val dir = Files.createTempDirectory("graft-epoch-bad")
    val bad = dir.resolve("MANIFEST_garbage")
    Files.writeString(bad, "12 notanumber")
    val ex = intercept[IllegalStateException] {
      EpochStore.readLongsFile(spark,
        new org.apache.hadoop.fs.Path(bad.toString))
    }
    assert(ex.getMessage.contains(bad.getFileName.toString),
      s"error must name the file: ${ex.getMessage}")
    assert(ex.getMessage.contains("notanumber"),
      "error must show the offending content")
    // an EMPTY marker (the classic truncation) is equally loud
    val empty = dir.resolve("MANIFEST_empty")
    Files.writeString(empty, "")
    val ex2 = intercept[IllegalStateException] {
      EpochStore.readLongsFile(spark,
        new org.apache.hadoop.fs.Path(empty.toString))
    }
    assert(ex2.getMessage.contains("MANIFEST_empty"))
  }
}
