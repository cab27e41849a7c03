package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

import graft.core.{EpochStore, FileIO}

/** graft's own file I/O: fork-free on a local filesystem, and readable
  * through Hadoop's checksummed local filesystem after it overwrites a
  * file Hadoop wrote.
  */
class FileIOSpec extends SparkSpec {

  private def hadoopWrite(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def hadoopRead(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("an overwrite or replace of a Hadoop-written file reads back without a stale checksum") {
    val dir = Files.createTempDirectory("graft-fileio")
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir.resolve("f").toString)
    hadoopWrite(fs, p, "written by hadoop")
    assert(Files.exists(dir.resolve(".f.crc")), "the checksummed local FS leaves a sidecar")

    FileIO.writeText(spark, p.toString, "overwritten")
    assert(hadoopRead(fs, p) === "overwritten")

    hadoopWrite(fs, p, "written by hadoop again")
    // a stale sidecar of the replace's temp file must not poison it either
    hadoopWrite(fs, new Path(dir.resolve("f.tmp").toString), "an older temp file")
    FileIO.replaceText(spark, p.toString, "replaced")
    assert(hadoopRead(fs, p) === "replaced")
    assert(FileIO.readText(spark, p.toString) === "replaced")
    assert(!Files.exists(dir.resolve("f.tmp")))
  }

  test("an EpochStore commit on a local path starts no process") {
    val path = Files.createTempDirectory("graft-fileio-store").resolve("store").toString
    val store = new EpochStore.Segmented("spec", Seq("fam" -> identity[DataFrame] _))
    store.write(spark, path, 0)(_ => ())
    assert(forksOf(store.write(spark, path, 1, extend = true)(_ => ())) === 0)
    assert(EpochStore.currentEpoch(spark, path) === 2L)
    assert(EpochStore.readSegments(spark, path, "fam", 2) === Some(Seq("fam_s1", "fam_s2")))
  }

  test("readTextIfExists reads a file and gives None for a missing one") {
    val dir = Files.createTempDirectory("graft-fileio-read")
    FileIO.writeText(spark, dir.resolve("f").toString, "text")
    assert(FileIO.readTextIfExists(spark, dir.resolve("f").toString) === Some("text"))
    assert(FileIO.readTextIfExists(spark, dir.resolve("missing").toString) === None)
  }

  test("deleteTree removes a local tree given as a plain path or a file: URI") {
    for (uri <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-fileio-del")
      Files.createDirectories(dir.resolve("a/b"))
      Files.writeString(dir.resolve("a/b/c"), "x")
      FileIO.deleteTree(if (uri) dir.toUri.toString else dir.toString)
      assert(!Files.exists(dir), dir)
    }
  }
}
