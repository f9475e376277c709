package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 300 rows over 3 values of `part`; a local scan over 4 tasks, so a plain
    * `partitionBy` write writes every partition as several files. */
  private def threeParts(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 300).map(i => (i.toLong, s"p${i % 3}", i * 0.5)).toDF("id", "part", "v")
  }

  /** IceLite's staging write through Hadoop's stock `LocalFileSystem`,
    * fetched uncached like [[LocalFs]] so that it sees the same conf: a
    * cached instance keeps the conf it was first made with, and would ignore
    * a umask set on the write. */
  private def stockStage(df: DataFrame, dir: Path): Unit =
    df.withColumn("__pk", col("part").cast("string"))
      .write.mode("overwrite")
      .options(LocalFs.writeOptions + ("fs.file.impl" -> classOf[LocalFileSystem].getName))
      .partitionBy("__pk").parquet(dir.toString)

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix).toRealPath()

  /** `body`'s result and the command lines of the processes it started that
    * begin with `chmod` and name a path under `dir` (Hadoop passes the
    * canonical path). Read from a JFR recording of `jdk.ProcessStart`. */
  private def chmodForks[T](dir: Path)(body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(file)
      val cmds = RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") && c.contains(dir.toString))
      (out, cmds)
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.toList finally s.close()
  }

  private def files(root: Path, suffix: String): Seq[Path] =
    walk(root).filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("writeResumable forks no chmod; the stock file system forks >= 3 per staged file") {
    // with libhadoop the stock file system forks nothing either, so the
    // recording has nothing to tell the two apart
    assume(!NativeIO.isAvailable, "libhadoop is loaded: Hadoop's setPermission forks no chmod")
    val df = threeParts(spark)
    val dir = tempDir("localfs_forks")

    val stock = dir.resolve("stock")
    val (_, stockForks) = chmodForks(stock)(stockStage(df, stock))
    val staged = files(stock, ".parquet").size
    assert(staged >= 3)
    assert(stockForks.size >= 3 * staged, stockForks.mkString("\n"))

    val table = dir.resolve("table")
    val ((written, _), forks) = chmodForks(table)(IceLite.writeResumable(df, table.toString, "part"))
    assert(written === Seq("p0", "p1", "p2"))
    assert(forks.isEmpty, forks.mkString("\n"))
    assert(IceLite.verifyLineage(spark, table.toString, "part").forall(_._2))
  }

  test("writeResumable leaves the stock file system's permissions and .crc sidecars, under either umask") {
    for (umask <- Seq(None, Some("077"))) {
      val s = spark.newSession()
      umask.foreach(s.conf.set("fs.permissions.umask-mode", _))
      val df = threeParts(s)
      val dir = tempDir("localfs_perms")
      val stock = dir.resolve("stock")
      stockStage(df, stock)
      val table = dir.resolve("table")
      IceLite.writeResumable(df, table.toString, "part")

      for (pv <- Seq("p0", "p1", "p2")) {
        val (ours, theirs) = (table.resolve(s"data/$pv"), stock.resolve(s"__pk=$pv"))
        assert(perms(ours) === perms(theirs), s"dir $pv, umask $umask")
        for (suffix <- Seq(".parquet", ".crc")) {
          val got = files(ours, suffix).map(perms).toSet
          assert(got.nonEmpty && got === files(theirs, suffix).map(perms).toSet,
            s"$suffix files of $pv, umask $umask")
        }
        files(ours, ".parquet").foreach { f =>
          assert(Files.isRegularFile(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
        }
      }
      if (umask.isDefined) {
        assert(files(table.resolve("data"), ".parquet").map(perms).toSet === Set("rw-------"))
        assert(perms(table.resolve("data/p0")) === "rwx------")
      }
    }
  }

  test("a flipped byte in a committed data file fails the read with a checksum error") {
    val table = tempDir("localfs_crc").resolve("table")
    IceLite.writeResumable(threeParts(spark), table.toString, "part")
    assert(IceLite.read(spark, table.toString).count() === 300)
    // a file of the last partition: IceLite.read's driver-side footer read
    // opens the first, so the failure comes from the executors' scan
    val victim = files(table.resolve("data/p2"), ".parquet").sorted.last
    val ch = FileChannel.open(victim, StandardOpenOption.READ, StandardOpenOption.WRITE)
    try {
      val at = ch.size() - 1 // in the footer's magic, which every reader of the file reads
      val b = ByteBuffer.allocate(1)
      ch.read(b, at)
      b.put(0, (b.get(0) ^ 0x01).toByte)
      b.rewind()
      ch.write(b, at)
    } finally ch.close()
    val e = intercept[Exception](IceLite.read(spark, table.toString).count())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]), chain.mkString("\n"))
  }
}
