package graft.io

import java.io.IOException

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style table layout without the Iceberg runtime jar
  * (SURVEY §7.4 — no Iceberg artifact exists in /opt/spark/jars or the
  * offline cache, so the semantics the north-rule needs are realized
  * directly: Hive-layout partitioned parquet + JSON snapshot metadata,
  * snapshot-commit-last atomicity, and a skew-guarded rebalance by
  * partition value).
  *
  * Layout:
  * {{{
  * <root>/data/g<n>/<p1>=<v>/<p2>=<v>/part-*.parquet   # generation n files, zstd
  * <root>/metadata/snap-<n>.json          # commit metadata of snapshot n
  * <root>/metadata/manifest-<n>.text      # COMPLETE live file list of n
  * <root>/metadata/v<n>.metadata.json     # schema, partition spec
  * <root>/metadata/version-hint.text      # current version (atomic rename)
  * }}}
  *
  * Commit protocol (O4/S6 analog — the reference's single-transaction
  * SQLite commit log, backend/db.py:6-21): every commit writes its data
  * files into a fresh generation directory that no current snapshot
  * references, then writes the manifest + snapshot JSON, and flips the
  * version hint LAST — readers resolve their file list from the manifest
  * of the hinted version (never from directory listing), so they see
  * either the previous complete snapshot or the new complete snapshot,
  * never a partial one. Compaction follows the same path: new generation,
  * new manifest referencing only it, hint flip, then retirement of
  * now-unreferenced generations (single-snapshot retention; a time-travel
  * deployment would keep generations for every retained snapshot).
  *
  * Row counts come from a Spark `Observation` on the write itself — no
  * second scan of just-written data per commit. Every data file is
  * written with zstd, as Iceberg's own Spark writer does; footer
  * statistics are left untruncated, so MIN/MAX read from footers stay
  * exact.
  *
  * All files go through the root's Hadoop FileSystem ([[RootFs]]). The
  * protocol needs an exclusive create and a rename that replaces the
  * hint atomically: `file://` has both; HDFS has the first and refuses
  * the replace loudly; object stores have neither (unsupported).
  */
object IcebergStyleTable {

  final case class Snapshot(version: Int, files: Seq[String], rowCount: Long)

  private def metaDir(root: String): Path = new Path(s"$root/metadata")
  private def meta(root: String, name: String): Path =
    new Path(metaDir(root), name)
  private def dataDir(root: String): Path = new Path(s"$root/data")
  private def genName(version: Int): String = s"g$version"

  /** A claim not followed by its committed snapshot within this lease is
    * treated as abandoned by a DEAD committer (SIGKILL/OOM between claim
    * and hint flip leaves no JVM catch to release it) and is reclaimable —
    * without expiry one crashed writer would wedge the table forever,
    * since every later committer recomputes the same next version and hits
    * the stale claim. The lease must exceed the longest plausible
    * write-generation + metadata time for the deployment. */
  final val ClaimLeaseMillis: Long =
    sys.env.get("GRAFT_CLAIM_LEASE_MS").map(_.toLong)
      .getOrElse(15L * 60L * 1000L)

  /** Atomically claim version `version` for this committer. Two concurrent
    * writers that both read currentVersion = N-1 would otherwise write the
    * same generation dir (mode overwrite) and the last hint flip would
    * silently discard the other's commit — the compare-and-swap here makes
    * the loser fail loudly instead. The claim is an exclusive create:
    * O_CREAT|O_EXCL on `file://` ([[LocalFs]]), the namenode's
    * create-if-absent on HDFS; an object store would need a conditional
    * PUT / metastore CAS.
    *
    * Stale-claim recovery: if the existing claim's version was never
    * committed AND the claim file is older than [[ClaimLeaseMillis]], the
    * claim is expired — it is atomically RENAMED to a tombstone (rename,
    * not delete+create: exactly one reclaimer can win the rename, so two
    * concurrent reclaimers cannot both end up owning the version) and the
    * claim is retried once. A reclaimer that loses the post-rename
    * re-claim race throws like any other loser.
    *
    * Each claim file carries its owner's NONCE, and release-on-failure
    * deletes the claim only if the content still matches — without this,
    * a slow committer whose lease expired (and whose claim was reclaimed
    * by a second writer) would, on its own eventual failure, delete the
    * SECOND writer's live claim and open the version to a third racer.
    * The lease-vs-slow-writer race itself is inherent to lease-based
    * recovery: deployments must size the lease above the longest
    * plausible commit (a metastore with fencing tokens removes it
    * entirely; this layer documents the trade, it cannot hide it).
    * Returns the claim nonce. */
  private def claimVersion(io: RootFs, root: String, version: Int): String = {
    val claim = meta(root, s"claim-$version")
    val nonce = s"${java.util.UUID.randomUUID()}"
    def tryCreate(): Boolean =
      try { io.write(claim, nonce, overwrite = false); true }
      catch { case _: FileAlreadyExistsException => false }
    def fail(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"snapshot version $version at $root is already claimed by " +
          "another committer; re-read currentVersion and retry")
    if (!tryCreate()) {
      // committed == the hint reached this version. Deliberately NOT
      // "snap-N.json exists": the snapshot file is written BEFORE the
      // hint flip, so a writer killed between the two leaves an orphaned
      // snap-N.json — treating that as committed would make the stale
      // claim unreclaimable and wedge the table on exactly the crash the
      // lease exists to recover from.
      val committed = currentVersion(io, root) >= version
      val ageMs =
        try System.currentTimeMillis() -
          io.fs.getFileStatus(claim).getModificationTime
        catch { case _: IOException => 0L }
      if (!committed && ageMs > ClaimLeaseMillis) {
        val tomb = meta(root, s"claim-$version.stale-${System.nanoTime()}")
        val won =
          try { io.rename(claim, tomb); true }
          catch { case _: IOException => false }
        if (!(won && tryCreate())) fail()
      } else fail()
    }
    nonce
  }

  /** Run the commit body under a claimed version; a FAILED commit releases
    * its claim so the version number stays committable (without this, one
    * crashed writer would wedge the table forever — every later committer
    * recomputes the same version and hits the stale claim). The release
    * is OWNERSHIP-CHECKED via the claim nonce: a failing writer whose
    * claim was already lease-reclaimed must not delete the reclaimer's
    * live claim. The read-then-delete is not atomic, so this NARROWS the
    * already-lease-sized race (reclaim must land exactly between the
    * failing writer's ownership read and its delete) rather than closing
    * it — a fencing metastore CAS closes it outright; on plain files this
    * is the honest limit. A SUCCESSFUL commit keeps the claim file: the
    * hint has advanced past it, and it doubles as a committer record. */
  private def withClaim[A](io: RootFs, root: String, version: Int)(
      body: => A): A = {
    val nonce = claimVersion(io, root, version)
    try body
    catch {
      case t: Throwable =>
        val claim = meta(root, s"claim-$version")
        val owned =
          try io.read(claim) == nonce catch { case _: IOException => false }
        if (owned) io.delete(claim)
        throw t
    }
  }

  def currentVersion(root: String): Int = currentVersion(RootFs(root), root)

  private def currentVersion(io: RootFs, root: String): Int =
    io.readOpt(meta(root, "version-hint.text")).map(_.trim.toInt).getOrElse(0)

  /** Live data files (relative to data/) of snapshot `version`. */
  def manifest(root: String, version: Int): Seq[String] =
    manifest(RootFs(root), root, version)

  private def manifest(io: RootFs, root: String, version: Int): Seq[String] =
    if (version <= 0) Seq.empty
    else io.readOpt(meta(root, s"manifest-$version.text")).toSeq
      .flatMap(_.linesIterator.filter(_.nonEmpty))

  /** The parquet files of generation `version`, as data-relative paths
    * (`g<n>/<col>=<v>/part-*.parquet`, Hive escapes kept as on disk). */
  private def listGenFiles(io: RootFs, root: String,
                           version: Int): Seq[String] = {
    val base = io.fs.makeQualified(dataDir(root)).toUri.getPath + "/"
    io.list(new Path(dataDir(root), genName(version)), recursive = true)
      .map(_.getPath.toUri.getPath)
      .filter(_.endsWith(".parquet"))
      .map(_.stripPrefix(base))
      .sorted
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\")
    .replace("\"", "\\\"") + "\""

  /** Parquet codec of every table data file. */
  private final val Codec = "zstd"

  /** Write `df`, counting its rows on the write job itself (no re-read).
    * `get` blocks until Spark delivers the metrics; a write that produced
    * none throws here, inside the caller's claim. */
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

  /** Write snapshot `version`'s metadata and flip the hint to it. The
    * schema (`v<n>.metadata.json`) and the manifest are written BEFORE
    * the hint flip — once a reader can see version N, every metadata
    * file of N already exists. */
  private def commitMetadata(io: RootFs, root: String, version: Int,
                             schema: StructType,
                             files: Seq[String], added: Seq[String],
                             rowCount: Long, partitionCols: Seq[String],
                             extra: String): Unit = {
    val metaJson =
      s"""{"format-version":$version,"schema":${schema.json},
         |"partition_spec":[${partitionCols.map(q).mkString(",")}],
         |"current_snapshot":$version}""".stripMargin.replace("\n", "")
    io.write(meta(root, s"v$version.metadata.json"), metaJson)
    io.write(meta(root, s"manifest-$version.text"), files.mkString("\n"))
    val snapJson =
      s"""{"version":$version,$extra"added_files":[${added.map(q).mkString(",")}],
         |"added_rows":$rowCount,
         |"partition_spec":[${partitionCols.map(q).mkString(",")}]}"""
        .stripMargin.replace("\n", "")
    io.write(meta(root, s"snap-$version.json"), snapJson)
    // atomic last step: readers flip to the new snapshot only here
    io.publish(meta(root, "version-hint.text"), version.toString)
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
    * IllegalArgumentException before it claims a version, as the
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
    val version = currentVersion(io, root) + 1
    withClaim(io, root, version) {

    val distributed =
      if (partitionCols.isEmpty)
        df.repartition(shufflePartitions,
          pmod(xxhash64(col(saltCol)), lit(saltBuckets)))
      else df.hint("rebalance", shufflePartitions +: partitionCols.map(col): _*)
    val dest = new Path(dataDir(root), genName(version)).toString
    val rowCount = writeCounted(distributed, partitionCols, dest)

    val added = listGenFiles(io, root, version)
    val extra = extraMeta.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}," }.mkString
    commitMetadata(io, root, version, df.schema,
      manifest(io, root, version - 1) ++ added, added, rowCount,
      partitionCols, extra = extra)

    Snapshot(version, added, rowCount)
    }
  }

  /** The data columns generation `version` was written with: the schema
    * of its `v<n>.metadata.json` without the partition columns, or None
    * when the generation has no such file. */
  private def recordedDataSchema(io: RootFs, root: String,
                                 version: Int): Option[StructType] =
    io.readOpt(meta(root, s"v$version.metadata.json")).map { text =>
      val m = new ObjectMapper().readTree(text)
      val parts = m.get("partition_spec").elements().asScala.map(_.asText)
        .toSet
      StructType(DataType.fromJson(m.get("schema").toString)
        .asInstanceOf[StructType].filterNot(f => parts(f.name)))
    }

  /** Read the current snapshot: file list resolved from its manifest
    * (NEVER from directory listing — in-flight commits are invisible).
    * Partition-pruning capable: each generation is scanned with its own
    * basePath, so Hive partition columns are recovered and filters on
    * them prune directories for free. A generation's data columns come
    * from the schema its commit recorded, so no footer is read to infer
    * them (that would be one Spark job per read); partition column types
    * are inferred from the directory names. */
  def read(spark: SparkSession, root: String): DataFrame =
    read(spark, RootFs(spark, root), root)

  private def read(spark: SparkSession, io: RootFs, root: String): DataFrame = {
    val v = currentVersion(io, root)
    val files = manifest(io, root, v)
    require(files.nonEmpty, s"no committed snapshot at $root (version=$v)")
    files.groupBy(f => f.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (gen, fs) =>
        val reader = spark.read
          .option("basePath", new Path(dataDir(root), gen).toString)
        recordedDataSchema(io, root, gen.stripPrefix("g").toInt)
          .fold(reader)(reader.schema)
          .parquet(fs.map(f => new Path(dataDir(root), f).toString): _*)
      }.reduce(_ unionByName _)
  }

  /** Rewrite the table's live files into one compacted generation and
    * commit it as a new snapshot — the Iceberg `rewrite_data_files`
    * analog. At fine partition granularity (date x host_bucket) small
    * scales produce tiny files; compaction runs out-of-band, readers flip
    * atomically via the version hint, and generations no longer referenced
    * by the current snapshot are retired AFTER the flip (single-snapshot
    * retention; keep them to retain time-travel). */
  /** `saltBuckets`: bounds the hottest partition dir's rewrite to that
    * many reducers instead of ONE (a Zipf-skewed table would otherwise
    * funnel its hottest part_date through a single task). The salt
    * hashes ALL columns (deterministic per row), so each partition dir
    * compacts to at most `saltBuckets` files — the default of 1
    * maximizes file merging; raise it on skewed tables (RunJob does). */
  def compact(spark: SparkSession, root: String, partitionCols: Seq[String],
              saltBuckets: Int = 1): Snapshot = {
    val io = RootFs(spark, root)
    val current = read(spark, io, root)
    val version = currentVersion(io, root) + 1
    withClaim(io, root, version) {
    val liveGens = manifest(io, root, version - 1)
      .map(f => f.takeWhile(_ != '/')).distinct

    val salt = pmod(xxhash64(current.columns.map(col): _*),
      lit(saltBuckets))
    val compacted = current
      .repartition((partitionCols.map(col) :+ salt): _*)
      .sortWithinPartitions(partitionCols.map(col): _*)
    val dest = new Path(dataDir(root), genName(version)).toString
    val rowCount = writeCounted(compacted, partitionCols, dest)

    val added = listGenFiles(io, root, version)
    commitMetadata(io, root, version, current.schema, files = added,
      added = added, rowCount = rowCount, partitionCols = partitionCols,
      extra = "\"compaction\":true,")

    // retire unreferenced generations (readers of older snapshots are not
    // supported under single-snapshot retention — documented above)
    liveGens.foreach(g => io.delete(new Path(dataDir(root), g)))

    Snapshot(version, added, rowCount)
    }
  }

  /** Version of the COMMITTED snapshot whose JSON carries `"key":"value"`
    * (written via `append(extraMeta = ...)`), if any — the durable-commit
    * lookup for callers that stamp their identity into the snapshot
    * (RunJob's exactly-once guard survives a kill between hint flip and
    * any caller-side marker precisely because this record IS the commit).
    *
    * Restricted to versions <= the hinted currentVersion: snap-N.json is
    * written BEFORE the hint flip, so an append killed between the two
    * leaves an orphaned snapshot file for a version that never became
    * visible — counting it as committed would make the caller skip its
    * retry and silently lose the run's data. */
  def findSnapshotWithMeta(root: String, key: String,
                           value: String): Option[Int] = {
    val io = RootFs(root)
    val needle = s"${q(key)}:${q(value)}"
    val committed = currentVersion(io, root)
    snapshots(io, root).filter(_ <= committed).find { v =>
      try io.read(meta(root, s"snap-$v.json")).contains(needle)
      catch { case _: IOException => false }
    }
  }

  /** `added_rows` recorded in snapshot `version`'s JSON (0 if absent). */
  def snapshotAddedRows(root: String, version: Int): Long =
    try {
      val s = RootFs(root).read(meta(root, s"snap-$version.json"))
      "\"added_rows\":(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(0L)
    } catch { case _: IOException => 0L }

  def snapshots(root: String): Seq[Int] = snapshots(RootFs(root), root)

  private def snapshots(io: RootFs, root: String): Seq[Int] =
    io.list(metaDir(root)).map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") =>
        n.stripPrefix("snap-").stripSuffix(".json").toInt }
      .sorted
}
