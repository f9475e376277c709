package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's checksummed local file system (`.crc` sidecars written on
 * create, verified on read) over a raw file system whose `setPermission` is
 * one `chmod` syscall through `java.nio` instead of a forked process.
 *
 * Without `libhadoop` (Spark's bundled `hadoop-client-runtime` ships none)
 * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod …")`,
 * and a Parquet write calls it three times per output file: the partition
 * dir, the data file and its `.crc`. With `libhadoop` Hadoop's own
 * `NativeIO.POSIX.chmod` already does this without a fork. The bits set are
 * the ones the stock file system sets (the caller's umask included); a
 * permission with the sticky bit, or a file store with no POSIX view, falls
 * back to the stock path.
 */
final class LocalFs extends LocalFileSystem(new LocalFs.PosixRawFs)

object LocalFs {

  /** Options for a local `DataFrameWriter` (`.options(LocalFs.writeOptions)`)
    * that make that one write go through [[LocalFs]]. Hadoop caches file
    * systems by scheme and user, not by conf, so the cache is disabled for
    * the write: otherwise the cached stock `file:` instance is returned and
    * the override silently ignored. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private final class PosixRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The rwx bits of an octal mode; `PosixFilePermission.values` runs from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.iterator.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}
