package graft.io

import java.util.{ConcurrentModificationException, UUID}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style table layout without the Iceberg runtime jar
  * (SURVEY §7.4 — no Iceberg artifact exists in /opt/spark/jars or the
  * offline cache, so the semantics the north-rule needs are realized
  * directly: Hive-layout partitioned parquet + one JSON file per snapshot,
  * snapshot-commit-last atomicity, and a skew-guarded rebalance by
  * partition value).
  *
  * Layout:
  * {{{
  * <root>/data/g<n>-<id>/<p1>=<v>/<p2>=<v>/part-*.parquet  # one commit
  *                                  # attempt's files for version n, zstd
  * <root>/metadata/snap-<n>.json    # snapshot n: schema, partition spec,
  *                                  # COMPLETE live file list, added files
  *                                  # and rows, the caller's metadata
  * }}}
  *
  * Commit protocol (O4/S6 analog — the reference's single-transaction
  * SQLite commit log, backend/db.py:6-21 — and the commit of Iceberg's
  * file-system tables): a committer reads the current version n, writes
  * its data files into a generation directory of its own
  * (`g<n+1>-<random id>`), then publishes `snap-<n+1>.json` under a name
  * that must not exist yet ([[RootFs.publish]]). That publish is the
  * commit point. Of two committers racing for n+1 exactly one publishes;
  * the other deletes its generation and throws a
  * `ConcurrentModificationException`, having found out only after its
  * data write (optimistic concurrency, as Iceberg's). The current version
  * is the largest snapshot listed in `metadata/`, and snapshots are never
  * deleted, so a reader's version never goes back. Readers resolve their
  * file list from that snapshot (never from a data directory listing), so
  * they see either the previous complete snapshot or the new complete
  * snapshot, never a partial one. Compaction commits the same way, then
  * retires the generations the new snapshot no longer references
  * (single-snapshot retention; a time-travel deployment would keep
  * generations for every retained snapshot).
  *
  * A committer killed between its data write and its publish leaves an
  * unreferenced generation directory; it blocks no later commit. Removing
  * such orphans (Iceberg's `remove_orphan_files`) is not done here.
  *
  * Row counts come from a Spark `Observation` on the write itself — no
  * second scan of just-written data per commit. Every data file is
  * written with zstd, as Iceberg's own Spark writer does; footer
  * statistics are left untruncated, so MIN/MAX read from footers stay
  * exact.
  *
  * All files go through the root's Hadoop FileSystem ([[RootFs]]). The
  * protocol needs a rename that refuses an existing name: `file://`
  * ([[LocalFs]]) and HDFS have one; object stores do not (unsupported).
  */
object IcebergStyleTable {

  final case class Snapshot(version: Int, files: Seq[String], rowCount: Long)

  private def metaDir(root: String): Path = new Path(s"$root/metadata")
  private def snapPath(root: String, version: Int): Path =
    new Path(metaDir(root), s"snap-$version.json")
  private def dataDir(root: String): Path = new Path(s"$root/data")

  /** The name of snapshot n as this object writes it (a positive Int,
    * no leading zero). Anything else in `metadata/`, such as a publish's
    * temp file or a stray copy, is not a snapshot. */
  private val SnapName = """snap-([1-9]\d{0,8})\.json""".r

  def currentVersion(root: String): Int = currentVersion(RootFs(root), root)

  private def currentVersion(io: RootFs, root: String): Int =
    snapshots(io, root).lastOption.getOrElse(0)

  /** Snapshot `version`'s JSON. A snapshot that cannot be read is a
    * fault, not an absent record: every listed snapshot was published
    * whole. */
  private def snapshot(io: RootFs, root: String, version: Int): JsonNode =
    Json.readTree(io.read(snapPath(root, version)))

  /** Reads every snapshot and quotes every string written into one. */
  private val Json = new ObjectMapper()

  private def strings(array: JsonNode): Seq[String] =
    array.elements().asScala.map(_.asText).toSeq

  /** Live data files (relative to data/) of snapshot `version`. */
  def manifest(root: String, version: Int): Seq[String] =
    manifest(RootFs(root), root, version)

  private def manifest(io: RootFs, root: String, version: Int): Seq[String] =
    if (version <= 0) Seq.empty
    else strings(snapshot(io, root, version).get("files"))

  /** The generation directory of data file `file` (data-relative). */
  private def genOf(file: String): String = file.takeWhile(_ != '/')

  /** The parquet files of generation `gen`, as data-relative paths
    * (`g<n>-<id>/<col>=<v>/part-*.parquet`, Hive escapes kept as on disk). */
  private def listGenFiles(io: RootFs, root: String,
                           gen: String): Seq[String] = {
    val base = io.fs.makeQualified(dataDir(root)).toUri.getPath + "/"
    io.list(new Path(dataDir(root), gen), recursive = true)
      .map(_.getPath.toUri.getPath)
      .filter(_.endsWith(".parquet"))
      .map(_.stripPrefix(base))
      .sorted
  }

  private def q(s: String): String = Json.writeValueAsString(s)

  private def arr(ss: Seq[String]): String = ss.map(q).mkString("[", ",", "]")

  /** Parquet codec of every table data file. */
  private final val Codec = "zstd"

  /** Write `df`, counting its rows on the write job itself (no re-read).
    * `get` blocks until Spark delivers the metrics; a write that produced
    * none throws here, before the commit. */
  private def writeCounted(df: DataFrame, partitionCols: Seq[String],
                           dest: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("compression", Codec)
      .partitionBy(partitionCols: _*)
      .parquet(dest)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Commit version `base + 1`: `write` writes the rows into this
    * attempt's own generation directory and returns their count, and
    * `snap-<base+1>.json` is published listing `kept` (the live files
    * carried over) plus the generation's files. If anything fails before
    * the publish, or another committer published that version first (a
    * `ConcurrentModificationException`), the generation is deleted. */
  private def commit(io: RootFs, root: String, base: Int,
                     schema: StructType, partitionCols: Seq[String],
                     kept: Seq[String], extra: String)(
      write: String => Long): Snapshot = {
    val version = base + 1
    val gen = s"g$version-${UUID.randomUUID()}"
    val genDir = new Path(dataDir(root), gen)
    try {
      val rowCount = write(genDir.toString)
      val added = listGenFiles(io, root, gen)
      val json =
        s"""{"version":$version,$extra"added_files":${arr(added)},
           |"added_rows":$rowCount,"partition_spec":${arr(partitionCols)},
           |"schema":${schema.json},"files":${arr(kept ++ added)}}"""
          .stripMargin.replace("\n", "")
      try io.publish(snapPath(root, version), json)
      catch {
        case _: FileAlreadyExistsException =>
          throw new ConcurrentModificationException(
            s"snapshot version $version at $root was committed by another " +
              "committer; re-read currentVersion and retry")
      }
      Snapshot(version, added, rowCount)
    } catch {
      case t: Throwable =>
        try io.delete(genDir) catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    }
  }

  /** The session settings a partitioned append's skew guard rests on. */
  final val RebalanceConfs: Seq[String] = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled")

  /** Append `df` as a new snapshot.
    *
    * `partitionCols` become Hive partition directories. The rows are
    * distributed by Spark's `REBALANCE` hint on `partitionCols`, starting
    * from `shufflePartitions` shuffle partitions: each partition value is
    * written by one task into one file, the hash distribution Iceberg's
    * own Spark writer uses. Clustering a value's rows into one file lets
    * the columnar encodings pay off, and writer setup and footer are paid
    * once per value. Skew is left to AQE's
    * `OptimizeSkewInRebalancePartitions`, which splits only a shuffle
    * partition larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * — Zipf-skewed hosts/dates (SURVEY §2.11) then still bound the largest
    * write task, and no other value is spread. So a partitioned append
    * requires both
    * [[RebalanceConfs]]; with either off it throws an
    * IllegalArgumentException before it writes anything, as the
    * rebalance would silently lose its skew guard.
    *
    * With no `partitionCols` the shuffle key is the salt
    * pmod(xxhash64(saltCol), saltBuckets), so the snapshot has at most
    * `saltBuckets` files; `saltCol` and `saltBuckets` are unused
    * otherwise.
    *
    * `extraMeta`: caller key/values recorded in the snapshot JSON (e.g.
    * RunJob's run_id — the snapshot then IS the durable record that a
    * run's rows were committed, closing the kill-window between commit
    * and any caller-side marker). Rendered as `"k":"v",` pairs. */
  def append(df: DataFrame, root: String, partitionCols: Seq[String],
             saltCol: String, saltBuckets: Int = 16,
             shufflePartitions: Int = 32,
             extraMeta: Map[String, String] = Map.empty): Snapshot = {
    if (partitionCols.nonEmpty) {
      val off = RebalanceConfs.filterNot(df.sparkSession.conf.get(_).toBoolean)
      require(off.isEmpty, "a partitioned append needs " +
        s"${RebalanceConfs.map(_ + "=true").mkString(" and ")}; " +
        s"off: ${off.mkString(", ")}")
    }
    val io = RootFs(df.sparkSession, root)
    val base = currentVersion(io, root)
    val distributed =
      if (partitionCols.isEmpty)
        df.repartition(shufflePartitions,
          pmod(xxhash64(col(saltCol)), lit(saltBuckets)))
      else df.hint("rebalance", shufflePartitions +: partitionCols.map(col): _*)
    val extra = extraMeta.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}," }.mkString
    commit(io, root, base, df.schema, partitionCols,
      kept = manifest(io, root, base), extra = extra)(
      writeCounted(distributed, partitionCols, _))
  }

  /** The data columns generation `gen` was written with: the schema its
    * snapshot (`snap-<n>.json` of `g<n>-…`) recorded, without the
    * partition columns. */
  private def dataSchema(io: RootFs, root: String, gen: String): StructType = {
    val m = snapshot(io, root, gen.drop(1).takeWhile(_.isDigit).toInt)
    val parts = strings(m.get("partition_spec")).toSet
    StructType(DataType.fromJson(m.get("schema").toString)
      .asInstanceOf[StructType].filterNot(f => parts(f.name)))
  }

  /** Read the current snapshot: file list resolved from its snapshot
    * file (NEVER from directory listing — in-flight commits are
    * invisible). Partition-pruning capable: each generation is scanned
    * with its own basePath, so Hive partition columns are recovered and
    * filters on them prune directories for free. A generation's data
    * columns come from the schema its commit recorded, so no footer is
    * read to infer them (that would be one Spark job per read); partition
    * column types are inferred from the directory names. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val io = RootFs(spark, root)
    read(spark, io, root, currentVersion(io, root))
  }

  private def read(spark: SparkSession, io: RootFs, root: String,
                   version: Int): DataFrame = {
    val files = manifest(io, root, version)
    require(files.nonEmpty,
      s"no committed snapshot at $root (version=$version)")
    files.groupBy(genOf).toSeq.sortBy(_._1)
      .map { case (gen, fs) =>
        spark.read
          .option("basePath", new Path(dataDir(root), gen).toString)
          .schema(dataSchema(io, root, gen))
          .parquet(fs.map(f => new Path(dataDir(root), f).toString): _*)
      }.reduce(_ unionByName _)
  }

  /** Rewrite the table's live files into one compacted generation and
    * commit it as a new snapshot — the Iceberg `rewrite_data_files`
    * analog. At fine partition granularity (date x host_bucket) small
    * scales produce tiny files; compaction runs out-of-band, readers move
    * to the new snapshot atomically at its publish, and generations no
    * longer referenced by the current snapshot are retired AFTER it
    * (single-snapshot retention; keep them to retain time-travel). */
  /** `saltBuckets`: bounds the hottest partition dir's rewrite to that
    * many reducers instead of ONE (a Zipf-skewed table would otherwise
    * funnel its hottest part_date through a single task). The salt
    * hashes ALL columns (deterministic per row), so each partition dir
    * compacts to at most `saltBuckets` files — the default of 1
    * maximizes file merging; raise it on skewed tables (RunJob does). */
  def compact(spark: SparkSession, root: String, partitionCols: Seq[String],
              saltBuckets: Int = 1): Snapshot = {
    val io = RootFs(spark, root)
    val base = currentVersion(io, root)
    val current = read(spark, io, root, base)
    val liveGens = manifest(io, root, base).map(genOf).distinct

    val salt = pmod(xxhash64(current.columns.map(col): _*),
      lit(saltBuckets))
    val compacted = current
      .repartition((partitionCols.map(col) :+ salt): _*)
      .sortWithinPartitions(partitionCols.map(col): _*)
    val snap = commit(io, root, base, current.schema, partitionCols,
      kept = Nil, extra = "\"compaction\":true,")(
      writeCounted(compacted, partitionCols, _))

    // retire unreferenced generations (readers of older snapshots are not
    // supported under single-snapshot retention — documented above)
    liveGens.foreach(g => io.delete(new Path(dataDir(root), g)))
    snap
  }

  /** Version of the snapshot whose JSON carries `"key":"value"` (written
    * via `append(extraMeta = ...)`), if any — the durable-commit lookup
    * for callers that stamp their identity into the snapshot (RunJob's
    * exactly-once guard survives a kill between the commit and any
    * caller-side marker precisely because this record IS the commit).
    * Every listed snapshot is committed, and one that cannot be read
    * throws: reading it as "not this caller's" would let the caller
    * commit its rows twice. */
  def findSnapshotWithMeta(root: String, key: String,
                           value: String): Option[Int] = {
    val io = RootFs(root)
    snapshots(io, root).find(v =>
      Option(snapshot(io, root, v).get(key)).exists(_.asText == value))
  }

  /** `added_rows` recorded in snapshot `version`'s JSON. */
  def snapshotAddedRows(root: String, version: Int): Long =
    snapshot(RootFs(root), root, version).get("added_rows").asLong

  def snapshots(root: String): Seq[Int] = snapshots(RootFs(root), root)

  private def snapshots(io: RootFs, root: String): Seq[Int] =
    io.list(metaDir(root)).map(_.getPath.getName)
      .collect { case SnapName(n) => n.toInt }
      .sorted
}
