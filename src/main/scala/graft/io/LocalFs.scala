package graft.io

import java.io.IOException
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file://` FileSystem of the engine's sessions: Hadoop's checksummed
  * `LocalFileSystem` (same `.crc` sidecars, same layout, same permission
  * bits) over a raw filesystem that sets permissions in-process and
  * renames without a copy fallback and without replacing an existing
  * file.
  *
  * Without libhadoop's NativeIO, the stock `RawLocalFileSystem`
  * forks a `chmod` child process in `setPermission`, which Hadoop calls for
  * every data file, every `.crc` sidecar and every new directory a write
  * creates. On a parquet write of a few hundred files those process spawns
  * are most of the write task's wall time.
  */
class LocalFs extends LocalFileSystem(new LocalFs.RawFs)

object LocalFs {

  /** The raw `file://` FileSystem [[LocalFs]] checksums over. */
  class RawFs extends RawLocalFileSystem {

    /** Sets the rwx bits through `java.nio`. A mode with the sticky bit
      * (the one special bit an `FsPermission` carries) goes to the stock
      * path: `java.nio` cannot set it. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission is declared owner-read first: ordinal i is
        // mode bit 0400 >> i
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach { b =>
          if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    /** A rename that refuses an existing `dst` (false), as HDFS's does,
      * and never falls back to the stock class's copy-and-delete, which is
      * not atomic. A regular file is linked to `dst` and then unlinked
      * from `src`: link(2) is atomic and fails on an existing name, where
      * rename(2) would replace it. Anything else, such as the directories
      * Spark's committers move, is one rename(2). */
    override def rename(src: Path, dst: Path): Boolean = {
      val (s, d) = (pathToFile(src).toPath, pathToFile(dst).toPath)
      if (!Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS))
        s.toFile.renameTo(d.toFile)
      else {
        val linked =
          try { Files.createLink(d, s); true }
          catch { case _: IOException => false }
        if (linked) Files.delete(s)
        linked
      }
    }
  }

  /** The keys that route a conf's `file://` through [[LocalFs]], here
    * and in [[RootFs]]. The cache bypass is required: the JVM's
    * FileSystem cache keys on scheme and user, not on conf, and has
    * already handed out a stock `file://` instance. */
  private[io] val Keys = Seq("fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Route `spark`'s `file://` reads and writes through [[LocalFs]]. The
    * keys are session runtime conf, which Spark copies into every Hadoop
    * conf it builds for this session (query planning and tasks alike), so
    * other sessions keep the stock class. */
  def install(spark: SparkSession): Unit =
    Keys.foreach { case (k, v) => spark.conf.set(k, v) }
}
