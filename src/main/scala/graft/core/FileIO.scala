package graft.core

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** graft's own small-file I/O: dump text files, archive entries, copied
  * table files and the stores' sidecars, manifests and pins. Spark's
  * writes never come through here.
  *
  * LOCAL/REMOTE CONTRACT. On a `file:` filesystem, creates, writes,
  * directory creation and renames go through `java.nio`, and an atomic
  * replace is `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`. Hadoop's local
  * filesystem runs an OS process for permission work when the Hadoop
  * native library is absent: two `chmod` per file create (the file and
  * its `.crc` sidecar), one per new directory, an `ls -ld` per
  * [[FileSystem.listFiles]] entry and a `readlink` per `FileContext`
  * rename, each a few milliseconds. On every other scheme (HDFS, S3A, ...)
  * each call is the Hadoop call it replaces, so remote behaviour is
  * unchanged. Reads and `exists` go through Hadoop on every scheme (they
  * start no process). [[walk]] lists a local tree with `listStatus` per
  * directory, which starts no process, and any other tree with one
  * recursive `listFiles` (a flat listing on S3A). This object is the one
  * place that branches on the scheme.
  *
  * CHECKSUM RULE. Hadoop's checksummed local filesystem keeps a
  * `.<name>.crc` sibling beside each file it writes and checks every read
  * against it. A `java.nio` write leaves no sidecar, so every local create
  * and replace here first deletes any stale `.<name>.crc`; otherwise a
  * later Hadoop read of the new bytes would be checked against the old
  * checksum and fail. A file with no sidecar is read unchecked.
  */
private[graft] object FileIO {

  private def conf(spark: SparkSession): Configuration = spark.sparkContext.hadoopConfiguration

  /** The local file behind `p` when `fs` is a `file:` filesystem. */
  private def local(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (fs.getUri.getScheme == "file") Some(Paths.get(fs.makeQualified(p).toUri)) else None

  /** Deletes the checksum sidecar Hadoop may have left beside `f`. */
  private def dropChecksum(f: java.nio.file.Path): Unit =
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc")): Unit

  /** Creates `path`, or truncates it when it exists, with its parent
    * directories; the caller closes the stream.
    */
  def create(spark: SparkSession, path: String): OutputStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf(spark))
    local(fs, p) match {
      case Some(f) =>
        Files.createDirectories(f.getParent)
        dropChecksum(f)
        new BufferedOutputStream(Files.newOutputStream(f), 64 * 1024)
      case None => fs.create(p, true)
    }
  }

  /** Creates (or overwrites) `path` holding `text` as UTF-8. */
  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val out = create(spark, path)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Copies the bytes of `from` to `to` ([[create]]). */
  def copy(spark: SparkSession, from: String, to: String): Unit = {
    val src = new Path(from)
    val in = src.getFileSystem(conf(spark)).open(src)
    try {
      val out = create(spark, to)
      try in.transferTo(out) finally out.close()
    } finally in.close()
  }

  /** The whole UTF-8 text of `path`; a missing file throws
    * `FileNotFoundException`.
    */
  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(conf(spark)).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** The whole UTF-8 text of `path`; `None` when it does not exist, also
    * when it vanishes between a listing and this read.
    */
  def readTextIfExists(spark: SparkSession, path: String): Option[String] =
    try Some(readText(spark, path))
    catch { case _: java.io.FileNotFoundException => None }

  /** Whether `path` exists. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf(spark)).exists(p)
  }

  /** Atomically replaces `path` with `text`: the text goes to
    * `<path>.tmp`, which is then renamed over `path`, so a reader sees the
    * old file or the new one, never a torn write. The commit primitive
    * under store manifests and replay pins.
    */
  def replaceText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    writeText(spark, tmp.toString, text)
    val fs = p.getFileSystem(conf(spark))
    local(fs, p) match {
      case Some(to) =>
        dropChecksum(to)
        Files.move(to.resolveSibling(tmp.getName), to,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      case None =>
        FileContext.getFileContext(p.toUri, conf(spark)).rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** Every file under `root` (or `root` itself when it is a file).
    * Checksum sidecars are not listed.
    */
  def walk(spark: SparkSession, root: String): Iterator[FileStatus] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf(spark))
    def under(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).iterator.flatMap(s => if (s.isDirectory) under(s.getPath) else Iterator(s))
    local(fs, p) match {
      case Some(_) => under(p)
      case None =>
        val files = fs.listFiles(p, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
    }
  }

  /** Deletes `path` and everything under it when the JVM exits. Every
    * temp root graft creates for itself (harness stores, dedup and
    * materialize spills) is registered here, and one shutdown hook
    * reclaims them all.
    */
  def reclaimOnExit(path: String): Unit = exitReclaims.add(path): Unit

  private lazy val exitReclaims: java.util.Set[String] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => s.forEach(deleteTree(_))))
    s
  }

  /** Deletes `path` and everything under it, best effort: a missing path
    * or an undeletable file is skipped. A path with no scheme lives on the
    * default filesystem (`fs.defaultFS`), where Spark writes it. A local
    * path is deleted through `java.io`, so the delete needs no Hadoop
    * filesystem (whose cache may be closing at JVM exit); any other
    * through its Hadoop filesystem.
    */
  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val conf = new Configuration()
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) match {
      case "file" =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(p.toUri.getPath))
      case _ =>
        scala.util.Try(p.getFileSystem(conf).delete(p, true)): Unit
    }
  }
}
