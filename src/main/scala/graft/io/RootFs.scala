package graft.io

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException,
  FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionHadoopConf

/** The FileSystem that holds a root's own files (progress manifests,
  * table snapshots), and how the engine writes, publishes and reads one.
  * A write creates missing parent directories.
  *
  * Resolved once per public call from the session's Hadoop conf, with
  * `file://` routed through [[LocalFs]] whether or not the session
  * installed it. A checksummed FileSystem is unwrapped to its raw one, so
  * no `.crc` sidecar appears beside metadata. A `publish` or `delete` that
  * fails throws an `IOException` naming its paths.
  */
final class RootFs private (val fs: FileSystem) {

  def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def readOpt(p: Path): Option[String] =
    try Some(read(p)) catch { case _: FileNotFoundException => None }

  /** Writes `p` in place. */
  def write(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** Writes a temp sibling and renames it onto `p`, so no reader sees a
    * partial file. The rename never replaces: if `p` exists, the temp file
    * is deleted and a `FileAlreadyExistsException` thrown, as both
    * `file://` ([[LocalFs]]) and HDFS refuse a rename onto an existing
    * name. The temp name is unique per call, so concurrent publishers of
    * one name never share a temp file, and starts with a dot, so it is
    * none of the names the engine looks for. */
  def publish(p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp")
    write(tmp, content)
    if (!fs.rename(tmp, p)) {
      delete(tmp)
      if (fs.exists(p)) throw new FileAlreadyExistsException(s"$p exists")
      throw new IOException(s"could not rename $tmp to $p")
    }
  }

  /** Deletes `p` and everything under it; a path already gone is fine. */
  def delete(p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new IOException(s"could not delete $p")

  /** The entries of `dir`, or with `recursive` the files at any depth
    * under it; none if `dir` does not exist. Built on `listStatus`, not
    * `listFiles`: the `LocatedFileStatus` the latter returns copies each
    * file's owner and permission, which the local FileSystem reads by
    * forking `ls` when libhadoop is not loaded. */
  def list(dir: Path, recursive: Boolean = false): Seq[FileStatus] = {
    val entries =
      try fs.listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    if (!recursive) entries
    else entries.flatMap(e =>
      if (e.isDirectory) list(e.getPath, recursive = true) else Seq(e))
  }
}

object RootFs {

  def apply(spark: SparkSession, root: String): RootFs = {
    val conf = SessionHadoopConf(spark)
    LocalFs.Keys.foreach { case (k, v) => conf.set(k, v) }
    new RootFs(new Path(root).getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    })
  }

  /** For readers without a session parameter: the active session's. */
  def apply(root: String): RootFs = apply(SparkSession.active, root)
}
