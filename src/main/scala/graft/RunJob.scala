package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.io.{CheckpointedRun, IcebergStyleTable, LocalFs, RootFs}
import graft.pipeline.QualityPipeline

/** The production face of the engine — the composed spark-submit entry the
  * north star describes ("scales to 10^12 documents via spark-submit"):
  *
  * {{{
  * spark-submit --class graft.RunJob <jar> \
  *   --input  <pages parquet/dir>          \
  *   --output <job root>                   \
  *   --run-id <stable id>                  \
  *   [--partitions 32] [--salt-buckets 16] [--shuffle-partitions 32] \
  *   [--compact]
  * }}}
  *
  * Composition (each piece is the SURVEY operator it names):
  *   1. read the pages table `(url, warc_ts, html, text, lang)`;
  *   2. [[QualityPipeline]] — the fused per-document quality filter;
  *   3. [[CheckpointedRun.run]] — resumable execution over `--partitions`
  *      logical url-hash partitions, each read from its own bucket of one
  *      staged copy of the input, with per-partition progress manifests
  *      and stage metrics (O2-O4): re-running the SAME `--run-id` after a
  *      kill skips completed partitions;
  *   4. [[IcebergStyleTable.append]] — one atomic snapshot commit of the
  *      run's output into `<output>/table`, Hive-partitioned by
  *      `part_date`, each date rebalanced into one zstd file and a hot
  *      date split by AQE (S5/S6, skew §2.11); `--salt-buckets` sets only
  *      the files per date `--compact` writes.
  *
  * The commit record is the run id stamped into the table snapshot,
  * whose publish is the commit: a job killed after the commit (or
  * re-submitted after success) finds it and resumes to a no-op instead
  * of appending a duplicate snapshot. Killed BEFORE the commit, the rerun
  * skips all completed partitions and performs just the commit — so the
  * table holds the run's rows exactly once under any kill/retry
  * schedule. Once the snapshot is published, the run's partition outputs
  * (`<output>/work/run=<id>`, a second copy of the committed rows) are
  * deleted, and a rerun of a committed run retries that deletion; the
  * progress dir with its manifests stays.
  *
  * Job identity is the explicit `--run-id` (O2 — no wall clock), a plain
  * name checked before anything is written (`[A-Za-z0-9._-]+`, not `.`
  * or `..`: it becomes a path component and a JSON string), and the
  * partition count is part of that identity (CheckpointedRun refuses a
  * resume with a different `--partitions`).
  */
object RunJob {

  final case class JobArgs(
      input: String = "",
      output: String = "",
      runId: String = "",
      partitions: Int = 32,
      saltBuckets: Int = 16,
      shufflePartitions: Int = 32,
      compact: Boolean = false)

  /** `tableRows` is always THIS RUN's contributed row count — on a fresh
    * commit from the append snapshot, on a resumed-after-commit rerun
    * from the run's recorded snapshot metadata (no table scan). */
  final case class JobResult(
      partitions: Seq[CheckpointedRun.PartitionResult],
      tableVersion: Int,
      tableRows: Long,
      committedThisRun: Boolean)

  def parseArgs(argv: Array[String]): JobArgs = {
    var a = JobArgs()
    var i = 0
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"$flag requires a value")
      argv(i + 1)
    }
    def positive(flag: String): Int = {
      val n = value(flag).toInt
      require(n >= 1, s"$flag must be at least 1 (got $n)")
      n
    }
    while (i < argv.length) {
      argv(i) match {
        case "--input" => a = a.copy(input = value("--input")); i += 2
        case "--output" => a = a.copy(output = value("--output")); i += 2
        case "--run-id" => a = a.copy(runId = value("--run-id")); i += 2
        case "--partitions" =>
          a = a.copy(partitions = positive("--partitions")); i += 2
        case "--salt-buckets" =>
          a = a.copy(saltBuckets = positive("--salt-buckets")); i += 2
        case "--shuffle-partitions" =>
          a = a.copy(shufflePartitions =
            positive("--shuffle-partitions")); i += 2
        case "--compact" => a = a.copy(compact = true); i += 1
        case other =>
          throw new IllegalArgumentException(s"unknown argument: $other")
      }
    }
    require(a.input.nonEmpty && a.output.nonEmpty && a.runId.nonEmpty,
      "--input, --output and --run-id are required")
    CheckpointedRun.checkRunId(a.runId)
    a
  }

  def workRoot(args: JobArgs): String = s"${args.output}/work"
  def tableRoot(args: JobArgs): String = s"${args.output}/table"

  /** The whole job; `failAfter` is the kill-injection test hook
    * (CheckpointedRun's — aborts after N fresh partitions). Installs
    * [[LocalFs]] on `spark`, so the session keeps writing `file://`
    * through it afterwards. */
  def execute(spark: SparkSession, args: JobArgs,
              failAfter: Int = Int.MaxValue): JobResult = {
    graft.expr.GraftFunctions.register(spark)
    LocalFs.install(spark)
    // input may be an Iceberg-style table root (the north rule's input
    // shape — resolved through its snapshot manifest, so an in-flight
    // commit on the source table is invisible) or a plain parquet dir
    val pages =
      if (IcebergStyleTable.currentVersion(args.input) > 0)
        IcebergStyleTable.read(spark, args.input)
      else spark.read.parquet(args.input)

    val results = CheckpointedRun.run(spark, pages, keyCol = "url",
      transform = QualityPipeline.apply, root = workRoot(args),
      runId = args.runId, numPartitions = args.partitions,
      failAfter = failAfter)

    // Exactly-once: the run_id stamped into the snapshot JSON, whose
    // publish is the commit, is the only commit record
    val io = RootFs(spark, workRoot(args))
    val recorded = IcebergStyleTable
      .findSnapshotWithMeta(tableRoot(args), "run_id", args.runId)
    if (recorded.isDefined) {
      // already committed by a previous attempt — resume is a no-op that
      // reports this run's contributed rows from its own snapshot, and
      // finishes the reclamation of the partition outputs, which a kill
      // after the commit may have cut short
      io.delete(CheckpointedRun.runDir(workRoot(args), args.runId))
      JobResult(results, IcebergStyleTable.currentVersion(tableRoot(args)),
        IcebergStyleTable.snapshotAddedRows(tableRoot(args), recorded.get),
        committedThisRun = false)
    } else {
      val out = CheckpointedRun.output(spark, workRoot(args), args.runId)
      val snap = IcebergStyleTable.append(out, tableRoot(args),
        partitionCols = Seq("part_date"), saltCol = "url",
        shufflePartitions = args.shufflePartitions,
        extraMeta = Map("run_id" -> args.runId))
      // the table holds the rows now: the partition outputs are a second
      // copy of them, so reclaim it
      io.delete(CheckpointedRun.runDir(workRoot(args), args.runId))
      // optional out-of-band small-file compaction: a new snapshot,
      // committed the same way — readers never see a partial rewrite.
      // Runs AFTER the commit record: a kill during compaction leaves the
      // appended snapshot live and the rerun a no-op (compaction is
      // re-runnable maintenance, not part of the run's exactly-once
      // contract).
      val finalVersion =
        if (args.compact)
          IcebergStyleTable.compact(spark, tableRoot(args),
            Seq("part_date"),
            saltBuckets = math.min(4, args.saltBuckets)).version
        else snap.version
      JobResult(results, finalVersion, snap.rowCount,
        committedThisRun = true)
    }
  }

  /** The one JSON status line `main` prints: the run's outcome and the
    * location of its per-partition metrics table (a node's `toString` is
    * its compact JSON). */
  def statusLine(args: JobArgs, res: JobResult): String =
    new ObjectMapper().createObjectNode()
      .put("run_id", args.runId)
      .put("partitions_fresh", res.partitions.count(!_.skipped))
      .put("partitions_skipped", res.partitions.count(_.skipped))
      .put("table_version", res.tableVersion)
      .put("table_rows", res.tableRows)
      .put("committed_this_run", res.committedThisRun)
      .put("metrics",
        CheckpointedRun.progressDir(workRoot(args), args.runId).toString)
      .toString

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName(s"graft-quality-filter-${args.runId}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    println(statusLine(args, execute(spark, args)))
    spark.stop()
  }
}
