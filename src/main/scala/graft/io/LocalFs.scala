package graft.io

import java.io.IOException
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The `file://` FileSystem of the engine's sessions: Hadoop's checksummed
  * `LocalFileSystem` (same `.crc` sidecars, same layout, same permission
  * bits) over a raw filesystem that sets permissions in-process, creates
  * exclusively, and renames without a copy fallback and without replacing
  * an existing file.
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

    /** `overwrite = false` is an exclusive create: the name is claimed
      * with O_CREAT|O_EXCL before the stream opens. The stock class checks
      * `exists` and then opens, two steps a second creator can interleave.
      * (The checksummed [[LocalFs]] reaches the raw filesystem through the
      * `create` that takes a permission, which keeps the stock check.) */
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) {
        val parent = f.getParent
        if (parent != null && !mkdirs(parent))
          throw new IOException(s"Mkdirs failed to create $parent")
        try Files.createFile(pathToFile(f).toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"File already exists: $f")
        }
      }
      super.create(f, true, bufferSize, replication, blockSize, progress)
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
