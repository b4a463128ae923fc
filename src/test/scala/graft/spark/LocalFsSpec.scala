package graft.spark

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import scala.annotation.nowarn
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream,
  FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.SessionHadoopConf
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LocalFs, RootFs}

/** The fork-free `file://` FileSystem: installed per session, used by the
  * executor-side writer, and indistinguishable from Hadoop's stock
  * `LocalFileSystem` in permissions and checksums. */
class LocalFsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def fileSystemOf(s: SparkSession, dir: JPath): FileSystem =
    new Path(dir.toUri).getFileSystem(SessionHadoopConf(s))

  /** Full st_mode bits, sticky/setuid/setgid included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def walk(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Every entry under `root` by relative path, the write's random UUIDs
    * masked, with its mode bits. */
  private def modes(root: JPath): Seq[(String, Int)] =
    walk(root).map { p =>
      (root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
          "<uuid>"), mode(p))
    }.sorted

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def write(s: SparkSession, out: JPath): Unit =
    s.range(0, 400, 1, 4).withColumn("k", col("id") % 3)
      .write.mode("overwrite").partitionBy("k").parquet(out.toString)

  test("install is session-scoped: a new session resolves the stock class") {
    val dir = tmpDir("localfs_scope")
    // the stock class is whatever the context's own conf resolves (with
    // Hive on the classpath, Hive's LocalFileSystem proxy)
    val stock = new Path(dir.toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration).getClass
    assert(stock != classOf[LocalFs])
    assert(fileSystemOf(spark, dir).getClass == classOf[LocalFs])
    assert(fileSystemOf(spark.newSession(), dir).getClass == stock)
  }

  test("a partitioned DataFrame write goes through LocalFs in the tasks") {
    // Hadoop's local filesystem counts bytes, not write ops; the counter
    // is per FileSystem class, so only LocalFs's raw filesystem moves it
    @nowarn("cat=deprecation")
    def bytesWritten(cls: Class[_ <: FileSystem]): Long =
      FileSystem.getStatistics("file", cls).getBytesWritten
    val ours0 = bytesWritten(classOf[LocalFs.RawFs])
    val stock0 = bytesWritten(classOf[RawLocalFileSystem])
    write(spark, tmpDir("localfs_stats").resolve("t"))
    assert(bytesWritten(classOf[LocalFs.RawFs]) > ours0)
    assert(bytesWritten(classOf[RawLocalFileSystem]) == stock0)
  }

  test("file and directory permissions equal the stock FileSystem's") {
    Seq("022", "027", "077").foreach { umask =>
      val ours = spark.newSession()
      LocalFs.install(ours)
      // the stock side bypasses the FileSystem cache too: the cached
      // instance was built before this session and ignores its umask
      val stock = spark.newSession()
      stock.conf.set("fs.file.impl.disable.cache", "true")
      Seq(ours, stock).foreach(_.conf.set("fs.permissions.umask-mode", umask))
      val (a, b) = (tmpDir("localfs_ours").resolve("t"),
        tmpDir("localfs_stock").resolve("t"))
      write(ours, a)
      write(stock, b)
      val (ma, mb) = (modes(a), modes(b))
      assert(ma.exists(_._1.endsWith(".parquet")))
      assert(ma == mb, s"umask $umask")
      if (umask == "022")
        assert(ma.filter(_._1.endsWith(".parquet")).forall(_._2 == octal("644")),
          "data files are rw-r--r--")
    }
  }

  test(".crc sidecars are written and a flipped data byte fails the read") {
    val out = tmpDir("localfs_crc").resolve("t")
    write(spark, out)
    val data = walk(out).filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.nonEmpty)
    data.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p)
    }
    val raf = new RandomAccessFile(data.head.toFile, "rw")
    try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xff) }
    finally raf.close()
    // LocalFileSystem would move the corrupt file to a `bad_files` dir at
    // the highest writable ancestor on its device; keep it in place
    val fs = new LocalFs {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(URI.create("file:///"), SessionHadoopConf(spark))
    val in = fs.open(new Path(data.head.toUri))
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("special mode bits are applied exactly as the stock path applies " +
      "them") {
    val conf = SessionHadoopConf(spark)
    def raw(fs: RawLocalFileSystem) = {
      fs.initialize(URI.create("file:///"), conf); fs
    }
    val (ours, stock) = (raw(new LocalFs.RawFs), raw(new RawLocalFileSystem))
    val root = tmpDir("localfs_modes")
    // FsPermission carries the sticky bit but drops setuid and setgid, so
    // 06755 reaches both paths as 0755
    Seq("1755", "0755", "6755", "1777", "0640", "0700").map(octal)
      .zipWithIndex.foreach { case (bits, i) =>
        val perm = new FsPermission(bits.toShort)
        Seq(true, false).foreach { isDir =>
          val Seq(a, b) = Seq("ours", "stock").map { side =>
            val p = root.resolve(s"$side-$i-$isDir")
            if (isDir) Files.createDirectory(p) else Files.createFile(p)
            p
          }
          ours.setPermission(new Path(a.toUri), perm)
          stock.setPermission(new Path(b.toUri), perm)
          assert(mode(a) == mode(b),
            f"mode $bits%o on ${if (isDir) "dir" else "file"}")
        }
    }
  }

  test("the engine's metadata goes through LocalFs's raw filesystem, and " +
      "of 8 threads publishing one name, exactly one wins each of 200 " +
      "rounds") {
    val dir = tmpDir("localfs_publish")
    // also in a session that never installed LocalFs
    val io = RootFs(spark, dir.toString)
    assert(io.fs.isInstanceOf[LocalFs.RawFs])
    assert(RootFs(spark.newSession(), dir.toString).fs
      .isInstanceOf[LocalFs.RawFs])
    val threads = 8
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try (0 until 200).foreach { round =>
      // a publish is a temp file, then a rename that never replaces: one
      // publisher wins, with its whole content
      val q = new Path(new Path(dir.toUri), s"snap-$round.json")
      val published = (0 until threads).map { t =>
        pool.submit(new Callable[Option[String]] {
          override def call(): Option[String] = {
            val content = s"$t:" + "x" * 8192
            barrier.await()
            try { io.publish(q, content); Some(content) }
            catch { case _: FileAlreadyExistsException => None }
          }
        })
      }.map(_.get()).flatten
      assert(published.size == 1, s"round $round: ${published.size} won")
      assert(io.read(q) == published.head)
    } finally pool.shutdown()
    val ls = Files.list(dir)
    val tmps = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".tmp")).toSeq finally ls.close()
    assert(tmps.isEmpty, tmps)
  }

  test("rename never replaces: onto an existing file it returns false and " +
      "leaves both files intact, as HDFS's does") {
    val dir = tmpDir("localfs_rename")
    val fs = RootFs(spark, dir.toString).fs
    def path(name: String) = new Path(dir.resolve(name).toUri)
    def text(name: String) = new String(Files.readAllBytes(dir.resolve(name)),
      "UTF-8")
    Files.write(dir.resolve("a"), "A".getBytes("UTF-8"))
    Files.write(dir.resolve("b"), "B".getBytes("UTF-8"))
    assert(!fs.rename(path("a"), path("b")))
    assert(text("a") == "A" && text("b") == "B")
    // onto a free name the file moves
    assert(fs.rename(path("a"), path("c")))
    assert(!Files.exists(dir.resolve("a")) && text("c") == "A")
    // and a directory moves whole, as Spark's committers move them
    Files.createDirectories(dir.resolve("d/e"))
    assert(fs.rename(path("d"), path("f")))
    assert(Files.isDirectory(dir.resolve("f/e")) &&
      !Files.exists(dir.resolve("d")))
  }

  test("the engine's I/O uses one filesystem API: no java.nio.file or " +
      "java.io.File in graft.io (LocalFs.scala excepted), RunJob or " +
      "SparkEntry") {
    val main = Paths.get("src/main/scala/graft")
    val io = Files.list(main.resolve("io"))
    val sources =
      try io.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".scala") && n != "LocalFs.scala"
      }.toSeq
      finally io.close()
    assert(sources.size >= 3, sources)
    val banned = """java\.nio\.file|java\.io\.(File\b|_|\{[^}]*\bFile\b)""".r
    val hits = (sources ++ Seq("RunJob.scala", "SparkEntry.scala")
        .map(main.resolve)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"${main.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
