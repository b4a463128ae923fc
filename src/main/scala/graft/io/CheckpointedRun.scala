package graft.io

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.Heuristics
import graft.expr.PageProcess

/** Resumable batch execution with per-partition progress manifests and
  * per-stage metrics (SURVEY §7.6; BASELINE.json: "checkpoints
  * per-partition progress and metrics so a killed run resumes without
  * recomputation").
  *
  * The precedent is the reference's OCR response cache
  * (backend/pdf/PDFAdapter.py:104-127): an expensive stage keyed by a
  * stable identity, where a hit replays the stored result instead of
  * recomputing. Here the unit is a *logical partition* —
  * `pmod(xxhash64(url), P)` — so membership is a pure function of the row
  * (stable under any input re-partitioning), outputs land in
  * deterministic per-partition directories, and the manifest is written
  * only after the partition's output commits (write-then-rename, so a
  * kill can never leave a manifest without its data).
  *
  * Resume: list completed manifests, process only the missing partitions.
  * Metrics: one JSON manifest per (run, partition) with row counters per
  * stage (langid / perplexity / heuristics / scrub), collected by a Spark
  * `Observation` on the partition's own write job (no re-read of the
  * output), the kernel's per-stage `cpu_sec`, merged by Spark from the
  * same job's tasks, plus wall time — the O4 commit-log analog,
  * queryable as a table via [[metricsTable]].
  */
object CheckpointedRun {

  final case class PartitionResult(partition: Int, rows: Long, skipped: Boolean)

  /** Most files per staged bucket directory (bounded total: P x this). */
  final val StagedSubsplits = 8

  /** A run id names directories that are deleted recursively and is
    * written unescaped into JSON, so only a plain file name qualifies. */
  def checkRunId(runId: String): Unit =
    require(runId.matches("[A-Za-z0-9._-]+") && runId != "." && runId != "..",
      s"--run-id must match [A-Za-z0-9._-]+ and not be . or .. (got '$runId')")

  /** Where run `runId`'s partition manifests live. */
  def progressDir(root: String, runId: String): Path =
    new Path(s"$root/_progress/run=$runId")

  def completedPartitions(root: String, runId: String): Set[Int] =
    manifests(RootFs(root), root, runId).keySet

  private val ManifestName = """partition=(0|[1-9]\d{0,8})\.json""".r

  /** The run's partition manifests by partition: the
    * `partition=<k>.json` names with a plain decimal `k` below the run's
    * recorded partition count. Any other file in the progress dir is
    * ignored. */
  private def manifests(io: RootFs, root: String,
                        runId: String): Map[Int, Path] = {
    val parts = recordedPartitions(io, root, runId).getOrElse(0)
    io.list(progressDir(root, runId)).map(_.getPath)
      .flatMap(p => p.getName match {
        case ManifestName(k) if k.toInt < parts => Some(k.toInt -> p)
        case _ => None
      }).toMap
  }

  /** Run `transform` over `input` split into `numPartitions` logical
    * partitions by `keyCol`; completed partitions are skipped on resume.
    * `failAfter` (test hook) aborts after that many fresh partitions —
    * the "killed run" of the resume test (SURVEY §5.4.6).
    *
    * Scan discipline: the input is bucketed ONCE into a staged
    * Hive-partitioned copy (`_staged/run=<id>/_bucket=<k>`), so a fresh
    * run reads the source exactly once; each logical partition then reads
    * only its own bucket directory (partition pruning — `.explain` shows a
    * single-directory scan). The previous formulation filtered the raw
    * source per partition = P full scans, a non-starter at 100 TB.
    * Resume reuses the staged copy (it is keyed by run id and committed
    * via Spark's _SUCCESS marker before any partition starts). Each
    * bucket is staged as one file per scan split it fills
    * (`spark.sql.files.maxPartitionBytes`), at most [[StagedSubsplits]],
    * so a small bucket is one file and one read task.
    *
    * Partitions run side by side: `transform` is called on the calling
    * thread for every partition to run, in order, and then the partition
    * writes (each followed by its manifest) run on a pool of
    * min(partitions to run, `defaultParallelism`) threads. If one fails,
    * the partitions not yet started are skipped, the running ones are
    * waited for, and its error is rethrown as is; no partition job
    * outlives the call. `failAfter = k` runs the first k fresh
    * partitions, waits for them, then throws. A partition's stage times
    * come from the expressions its own `transform` call built: a
    * transform that reuses one built column for every partition charges
    * them all to it.
    */
  def run(spark: SparkSession, input: DataFrame, keyCol: String,
          transform: DataFrame => DataFrame, root: String, runId: String,
          numPartitions: Int = 8,
          failAfter: Int = Int.MaxValue): Seq[PartitionResult] = {
    // checked before `_num_partitions` is recorded: a bad value must not
    // become part of the run's identity
    checkRunId(runId)
    require(numPartitions >= 1,
      s"numPartitions must be at least 1 (got $numPartitions)")
    val io = RootFs(spark, root)

    // a run's partition scheme is part of its identity: resuming the same
    // runId with a different numPartitions would silently skip buckets
    // (staged copy AND completion manifests are keyed by the old scheme)
    recordedPartitions(io, root, runId) match {
      case Some(prev) =>
        require(prev == numPartitions,
          s"run $runId was started with numPartitions=$prev; " +
            s"resume must use the same value (got $numPartitions)")
      case None =>
        io.write(numPartitionsFile(root, runId), numPartitions.toString)
    }
    val done = manifests(io, root, runId).keySet

    // fully-completed rerun: skip staging entirely — the staged copy is
    // deleted after completion (below), and rebuilding it just to skip
    // every partition would be a full input copy for nothing. Still
    // attempt the staged-dir reclamation: a kill DURING the end-of-run
    // cleanup leaves a partial _staged/run=<id> orphan that only this
    // path would ever see again (the rerun returns here before reaching
    // the post-loop cleanup).
    if ((0 until numPartitions).forall(done)) {
      io.delete(stagedDir(root, runId))
      return (0 until numPartitions)
        .map(k => PartitionResult(k, -1, skipped = true))
    }

    val stagedPath = stagedDir(root, runId).toString
    if (!io.fs.exists(new Path(stagedPath, "_SUCCESS"))) {
      // Repartition ON THE BUCKET KEY before the partitioned write. The
      // direct form (withColumn + partitionBy, no shuffle) has every input
      // task write into up to P bucket directories — tasks x P files,
      // which at production scale (10^5 input splits x 4096 buckets) is a
      // catastrophic file-count explosion for any metadata layer. One
      // shuffle keyed by (_bucket, subsplit) bounds output to `subsplits`
      // files per bucket: the subsplit (an independent hash of the same
      // key) keeps a large bucket readable with intra-bucket parallelism
      // even before row-group splitting kicks in. The shuffle partition is
      // the key's own index, so each of the P x subsplits keys has its own
      // reducer: hashing the keys would give some reducers two keys and
      // leave others idle.
      val subsplits = stagedSubsplits(spark, input, numPartitions)
      input
        .withColumn("_bucket",
          pmod(xxhash64(col(keyCol)), lit(numPartitions)))
        .withColumn("_subsplit",
          pmod(xxhash64(col(keyCol), lit(0x5eed)), lit(subsplits)))
        .repartitionById(numPartitions * subsplits,
          (col("_bucket") * subsplits + col("_subsplit")).cast("int"))
        .drop("_subsplit")
        .write.mode("overwrite").partitionBy("_bucket").parquet(stagedPath)
    }
    // read with the schema that wrote it (`_bucket` typed as partition
    // inference types it: P is an Int), so no job reads footers to infer it
    val staged = spark.read.schema(input.schema.add("_bucket", IntegerType))
      .parquet(stagedPath)

    // the fresh partitions this call computes; `failAfter` stops the rest
    val fresh = (0 until numPartitions).filterNot(done)
    val toRun = fresh.take(failAfter)
    // transform on the calling thread, in partition order, before any
    // partition job starts: `transform` need not be thread-safe
    val writes = toRun.map { k =>
      // filter on the Hive partition column prunes to one directory
      val part = staged.filter(col("_bucket") === k).drop("_bucket")
      val obs = Observation()
      val out = observed(transform(part), obs)
      () => writePartition(io, out, obs, root, runId, k)
    }
    val written = inPool(
      math.min(toRun.size, spark.sparkContext.defaultParallelism), writes)
    if (fresh.size > toRun.size)
      throw new RuntimeException(
        s"injected failure before partition ${fresh(toRun.size)}")
    val byPartition = written.map(r => r.partition -> r).toMap
    val results = (0 until numPartitions).map(k =>
      byPartition.getOrElse(k, PartitionResult(k, -1, skipped = true)))
    // every partition is complete: reclaim the staged input copy —
    // leaving it would permanently double storage for every finished run
    // (at the 100 TB design point, a 100 TB orphan per run id). A rerun
    // after this cleanup takes the all-skipped early return above (which
    // retries this reclamation, healing a kill that landed mid-deletion)
    // and never re-reads the staged path.
    io.delete(stagedDir(root, runId))
    results
  }

  /** Files per staged bucket: as many scan splits as an average bucket
    * of `input` fills, clamped to [1, [[StagedSubsplits]]]. A bucket that
    * fits one split becomes one file and one read task. The arithmetic
    * stays in BigInt until clamped: an input with no size estimate (an
    * RDD-backed frame reports Long.MaxValue) gets the maximum. */
  private def stagedSubsplits(spark: SparkSession, input: DataFrame,
                              numPartitions: Int): Int = {
    val splitBytes = BigInt(JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes")))
    val bucketBytes = input.queryExecution.optimizedPlan.stats.sizeInBytes /
      numPartitions
    ((bucketBytes + splitBytes - 1) / splitBytes)
      .max(1).min(StagedSubsplits).toInt
  }

  /** `out` with the manifest's per-stage counters attached as `obs`:
    * one Spark job per partition, no re-read of the output.
    * Schema-tolerant + null-safe: (a) sum() over an EMPTY partition
    * (every row filtered, or fewer rows than partitions) is NULL, and a
    * manifest must still record 0; (b) a non-pipeline transform lacks the
    * quality columns — its counters are zero instead of failing the run */
  private def observed(out: DataFrame, obs: Observation): DataFrame = {
    val cols = out.columns.toSet
    def m0(c: Column): Column = coalesce(c, lit(0L))
    out.observe(obs,
      count(lit(1)).as("rows"),
      (if (cols("keep"))
        m0(sum(when(col("keep"), 1L).otherwise(0L)))
      else lit(0L)).as("n_keep"),
      (if (cols("n_redacted")) m0(sum(col("n_redacted").cast("long")))
      else lit(0L)).as("scrub_n_redacted"),
      (if (cols("lang_conf"))
        m0(sum(when(col("lang_conf") <
          lit(Heuristics.LangConfMin), 1L).otherwise(0L)))
      else lit(0L)).as("langid_n_low_conf"),
      (if (cols("perplexity"))
        m0(sum(when(col("perplexity") >
          lit(Heuristics.PerplexityMax), 1L).otherwise(0L)))
      else lit(0L)).as("perplexity_n_high"),
      (if (cols("rule_lineage")) {
        // the rules whose `fired` is true: all of them but those that are
        // not (false or null), counted by native array functions, not an
        // interpreted lambda
        val fired = col("rule_lineage.fired")
        m0(sum((size(fired) - size(array_remove(fired, true))).cast("long")))
      } else lit(0L)).as("heuristics_n_fired"))
  }

  /** Write partition `k` (a pool thread's job), then its manifest. The
    * kernel's stage times are those of `out`'s own plan
    * ([[PageProcess.stageTimes]]), which Spark merged from the write's
    * tasks on whatever executors ran them. */
  private def writePartition(io: RootFs, out: DataFrame, obs: Observation,
                             root: String, runId: String,
                             k: Int): PartitionResult = {
    val t0 = System.nanoTime()
    out.write.mode("overwrite").parquet(partitionDir(root, runId, k))
    val (stageNanos, _) = PageProcess.stageTimes(out)
    val m = obs.get.view.mapValues(_.asInstanceOf[Long]).toMap
    val rows = m("rows")
    val wall = (System.nanoTime() - t0) / 1e9
    def sn(st: String): Double = stageNanos(st) / 1e9

    val manifest =
      s"""{"run_id":"$runId","partition":$k,"rows":$rows,
         |"n_keep":${m("n_keep")},
         |"stages":{"scrub":{"n_redacted":${m("scrub_n_redacted")},
         |"cpu_sec":${sn("pii_scrub")}},
         |"langid":{"n_low_conf":${m("langid_n_low_conf")},
         |"cpu_sec":${sn("langid")}},
         |"perplexity":{"n_high":${m("perplexity_n_high")},
         |"cpu_sec":${sn("perplexity")}},
         |"heuristics":{"n_fired":${m("heuristics_n_fired")},
         |"cpu_sec":${sn("heuristics")}},
         |"tokenize":{"cpu_sec":${sn("tokenize")}}},
         |"wall_sec":$wall}""".stripMargin.replace("\n", "")
    // write-then-rename: manifest appears only after data committed
    io.publish(new Path(progressDir(root, runId), s"partition=$k.json"),
      manifest)
    PartitionResult(k, rows, skipped = false)
  }

  /** Run `tasks` on at most `threads` pool threads; results come back in
    * task order. After a task fails, the tasks not yet started are
    * skipped; the call returns only once every started task has
    * finished, and then rethrows the first failure itself. */
  private def inPool[A](threads: Int, tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(math.min(threads, tasks.size))
      val failure = new AtomicReference[Throwable]()
      try {
        val futures = tasks.map { task =>
          pool.submit(new Callable[Option[A]] {
            override def call(): Option[A] =
              if (failure.get != null) None
              else
                try Some(task())
                catch {
                  case e: Throwable => failure.compareAndSet(null, e); throw e
                }
          })
        }
        val results = futures.map { f =>
          try f.get() catch { case _: ExecutionException => None }
        }
        Option(failure.get).foreach(e => throw e)
        results.flatten
      } finally pool.shutdown()
    }

  private def stagedDir(root: String, runId: String) =
    new Path(s"$root/_staged/run=$runId")

  /** The run's partition outputs, `partition=<k>` below it. */
  def runDir(root: String, runId: String): Path = new Path(s"$root/run=$runId")

  private def partitionDir(root: String, runId: String, k: Int): String =
    s"$root/run=$runId/partition=$k"

  private def numPartitionsFile(root: String, runId: String) =
    new Path(progressDir(root, runId), "_num_partitions")

  private def recordedPartitions(io: RootFs, root: String,
                                 runId: String): Option[Int] =
    io.readOpt(numPartitionsFile(root, runId)).map(_.trim.toInt)

  /** Read the final output of a (possibly resumed) run: its
    * `partition=<k>` directories by name, for every k below the run's
    * recorded partition count. A `partition=*` glob would have Spark's
    * FileStreamSink probe the literal glob path for a `_spark_metadata`
    * log and log the resulting FileNotFoundException at WARN.
    *
    * Valid only until the outputs are committed: `RunJob` deletes
    * [[runDir]] once its table snapshot is published. */
  def output(spark: SparkSession, root: String, runId: String): DataFrame = {
    val parts = RootFs(spark, root).read(numPartitionsFile(root, runId))
      .trim.toInt
    spark.read.parquet((0 until parts).map(partitionDir(root, runId, _)): _*)
  }

  /** The metrics manifests as a queryable DataFrame (metrics table, O4):
    * one row per `partition=<k>.json` manifest, with per-stage `cpu_sec`
    * merged from the executors that ran the partition's kernel. */
  def metricsTable(spark: SparkSession, root: String, runId: String): DataFrame =
    spark.read.json(manifests(RootFs(spark, root), root, runId)
      .values.map(_.toString).toSeq: _*)
}
