package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table layout without the Iceberg runtime jar
  * (SURVEY §7.4 — no Iceberg artifact exists in /opt/spark/jars or the
  * offline cache, so the semantics the north-rule needs are realized
  * directly: Hive-layout partitioned parquet + JSON snapshot metadata,
  * snapshot-commit-last atomicity, and a salted repartition for skewed
  * partition keys).
  *
  * Layout:
  * {{{
  * <root>/data/g<n>/<p1>=<v>/<p2>=<v>/part-*.parquet   # generation n files
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
  * second scan of just-written data per commit.
  */
object IcebergStyleTable {

  final case class Snapshot(version: Int, files: Seq[String], rowCount: Long)

  private def metaDir(root: String): Path = Paths.get(root, "metadata")
  private def dataDir(root: String): Path = Paths.get(root, "data")
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
    * the loser fail loudly instead. `Files.createFile` is atomic on POSIX
    * (O_CREAT|O_EXCL); on a real object store this maps to a conditional
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
  private def claimVersion(root: String, version: Int): String = {
    val claim = metaDir(root).resolve(s"claim-$version")
    val nonce = s"${java.util.UUID.randomUUID()}"
    def tryCreate(): Boolean =
      try {
        Files.write(claim, nonce.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
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
      val committed = currentVersion(root) >= version
      val ageMs =
        try System.currentTimeMillis() -
          Files.getLastModifiedTime(claim).toMillis
        catch { case _: java.io.IOException => 0L }
      if (!committed && ageMs > ClaimLeaseMillis) {
        val tomb = metaDir(root)
          .resolve(s"claim-$version.stale-${System.nanoTime()}")
        val won =
          try { Files.move(claim, tomb,
            StandardCopyOption.ATOMIC_MOVE); true }
          catch { case _: java.io.IOException => false }
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
  private def withClaim[A](root: String, version: Int)(body: => A): A = {
    val nonce = claimVersion(root, version)
    try body
    catch {
      case t: Throwable =>
        val claim = metaDir(root).resolve(s"claim-$version")
        val owned =
          try new String(Files.readAllBytes(claim),
            StandardCharsets.UTF_8) == nonce
          catch { case _: java.io.IOException => false }
        if (owned) Files.deleteIfExists(claim)
        throw t
    }
  }

  def currentVersion(root: String): Int = {
    val hint = metaDir(root).resolve("version-hint.text")
    if (Files.exists(hint))
      new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  /** Live data files (relative to data/) of snapshot `version`. */
  def manifest(root: String, version: Int): Seq[String] = {
    val p = metaDir(root).resolve(s"manifest-$version.text")
    if (version <= 0 || !Files.exists(p)) Seq.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
  }

  private def listGenFiles(root: String, version: Int): Seq[String] = {
    val g = dataDir(root).resolve(genName(version))
    if (!Files.exists(g)) Seq.empty
    else {
      val s = Files.walk(g)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => dataDir(root).relativize(p).toString)
        .toSeq.sorted
      finally s.close()
    }
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\")
    .replace("\"", "\\\"") + "\""

  /** Write `df`, counting its rows on the write job itself (no re-read).
    * `get` blocks until Spark delivers the metrics; a write that produced
    * none throws here, inside the caller's claim. */
  private def writeCounted(df: DataFrame, partitionCols: Seq[String],
                           dest: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dest)
    obs.get("rows").asInstanceOf[Long]
  }

  private def commitMetadata(root: String, version: Int, files: Seq[String],
                             added: Seq[String], rowCount: Long,
                             partitionCols: Seq[String],
                             extra: String): Unit = {
    Files.write(metaDir(root).resolve(s"manifest-$version.text"),
      files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val snapJson =
      s"""{"version":$version,$extra"added_files":[${added.map(q).mkString(",")}],
         |"added_rows":$rowCount,
         |"partition_spec":[${partitionCols.map(q).mkString(",")}]}"""
        .stripMargin.replace("\n", "")
    Files.write(metaDir(root).resolve(s"snap-$version.json"),
      snapJson.getBytes(StandardCharsets.UTF_8))
    // atomic last step: readers flip to the new snapshot only here
    val tmp = metaDir(root).resolve("version-hint.tmp")
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaDir(root).resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append `df` as a new snapshot, salting the shuffle on skewed keys.
    *
    * `partitionCols` become Hive partition directories; the physical
    * shuffle key is (partitionCols ++ salt) where salt =
    * pmod(xxhash64(saltCol), saltBuckets) — Zipf-skewed hosts/TLDs
    * (SURVEY §2.11) then bound the max output task instead of serializing
    * one reducer per hot partition.
    */
  /** `extraMeta`: caller key/values recorded in the snapshot JSON (e.g.
    * RunJob's run_id — the snapshot then IS the durable record that a
    * run's rows were committed, closing the kill-window between commit
    * and any caller-side marker). Rendered as `"k":"v",` pairs. */
  def append(df: DataFrame, root: String, partitionCols: Seq[String],
             saltCol: String, saltBuckets: Int = 16,
             shufflePartitions: Int = 32,
             extraMeta: Map[String, String] = Map.empty): Snapshot = {
    Files.createDirectories(metaDir(root))
    val version = currentVersion(root) + 1
    withClaim(root, version) {

    val salted = df.repartition(shufflePartitions,
      (partitionCols.map(col) :+
        pmod(xxhash64(col(saltCol)), lit(saltBuckets))): _*)
    val dest = dataDir(root).resolve(genName(version)).toString
    val rowCount = writeCounted(salted, partitionCols, dest)

    // schema metadata is written BEFORE the hint flip — once a reader can
    // see version N, every metadata file of N already exists
    val schemaJson = df.schema.json
    val metaJson =
      s"""{"format-version":$version,"schema":$schemaJson,
         |"partition_spec":[${partitionCols.map(q).mkString(",")}],
         |"current_snapshot":$version}""".stripMargin.replace("\n", "")
    Files.write(metaDir(root).resolve(s"v$version.metadata.json"),
      metaJson.getBytes(StandardCharsets.UTF_8))

    val added = listGenFiles(root, version)
    val extra = extraMeta.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}," }.mkString
    commitMetadata(root, version, manifest(root, version - 1) ++ added,
      added, rowCount, partitionCols, extra = extra)

    Snapshot(version, added, rowCount)
    }
  }

  /** Read the current snapshot: file list resolved from its manifest
    * (NEVER from directory listing — in-flight commits are invisible).
    * Partition-pruning capable: each generation is scanned with its own
    * basePath, so Hive partition columns are recovered and filters on
    * them prune directories for free. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root)
    val files = manifest(root, v)
    require(files.nonEmpty, s"no committed snapshot at $root (version=$v)")
    files.groupBy(f => f.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (gen, fs) =>
        spark.read
          .option("basePath", dataDir(root).resolve(gen).toString)
          .parquet(fs.map(f => dataDir(root).resolve(f).toString): _*)
      }.reduce(_ unionByName _)
  }

  /** Rewrite the table's live files into one compacted generation and
    * commit it as a new snapshot — the Iceberg `rewrite_data_files`
    * analog. At fine partition granularity (date x host_bucket) small
    * scales produce tiny files; compaction runs out-of-band, readers flip
    * atomically via the version hint, and generations no longer referenced
    * by the current snapshot are retired AFTER the flip (single-snapshot
    * retention; keep them to retain time-travel). */
  /** `saltBuckets`: like append's salt, bounds the hottest partition
    * dir's rewrite to that many reducers instead of ONE (a Zipf-skewed
    * table would otherwise funnel its hottest part_date through a single
    * task — the exact skew failure append's salting exists to avoid).
    * The salt hashes ALL columns (deterministic per row), so each
    * partition dir compacts to at most `saltBuckets` files — the default
    * of 1 maximizes file merging; raise it on skewed tables (RunJob
    * does). */
  def compact(spark: SparkSession, root: String, partitionCols: Seq[String],
              saltBuckets: Int = 1): Snapshot = {
    val current = read(spark, root)
    val version = currentVersion(root) + 1
    withClaim(root, version) {
    val liveGens = manifest(root, version - 1)
      .map(f => f.takeWhile(_ != '/')).distinct

    val salt = pmod(xxhash64(current.columns.map(col): _*),
      lit(saltBuckets))
    val compacted = current
      .repartition((partitionCols.map(col) :+ salt): _*)
      .sortWithinPartitions(partitionCols.map(col): _*)
    val dest = dataDir(root).resolve(genName(version)).toString
    val rowCount = writeCounted(compacted, partitionCols, dest)

    val added = listGenFiles(root, version)
    commitMetadata(root, version, files = added, added = added,
      rowCount = rowCount, partitionCols = partitionCols,
      extra = "\"compaction\":true,")

    // retire unreferenced generations (readers of older snapshots are not
    // supported under single-snapshot retention — documented above)
    liveGens.foreach(g => deleteRecursively(dataDir(root).resolve(g)))

    Snapshot(version, added, rowCount)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
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
    val needle = s"${q(key)}:${q(value)}"
    val committed = currentVersion(root)
    snapshots(root).filter(_ <= committed).find { v =>
      try new String(Files.readAllBytes(
        metaDir(root).resolve(s"snap-$v.json")), StandardCharsets.UTF_8)
        .contains(needle)
      catch { case _: java.io.IOException => false }
    }
  }

  /** `added_rows` recorded in snapshot `version`'s JSON (0 if absent). */
  def snapshotAddedRows(root: String, version: Int): Long =
    try {
      val s = new String(Files.readAllBytes(
        metaDir(root).resolve(s"snap-$version.json")), StandardCharsets.UTF_8)
      "\"added_rows\":(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  def snapshots(root: String): Seq[Int] = {
    val m = metaDir(root)
    if (!Files.exists(m)) Seq.empty
    else {
      val s = Files.list(m)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("snap-") =>
          n.stripPrefix("snap-").stripSuffix(".json").toInt }
        .toSeq.sorted
      finally s.close()
    }
  }
}
