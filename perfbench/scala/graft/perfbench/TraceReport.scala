package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer numbers from one traced run. Each Spark job is charged to the
  * innermost layer span its start falls in, and each task to its job. */
final case class TraceReport(spans: Seq[Span], jobs: Seq[JobRec],
                             tasks: Seq[TaskRec], cores: Int) {

  private val root = spans.head
  private val innermost: Map[Int, Int] = jobs.map { j =>
    j.jobId -> spans.filter(s => s.start <= j.start && j.start < s.end)
      .sortBy(_.interval.length).headOption.map(_.id).getOrElse(-1)
  }.toMap
  private def jobsIn(name: String): Seq[JobRec] = {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    jobs.filter(j => ids(innermost(j.jobId)))
  }
  private def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.jobId).toSet
    tasks.filter(t => ids(t.jobId))
  }
  private def named(n: String): Seq[Span] = spans.filter(_.name == n)
  private def wallS(n: String): Double = named(n).map(_.interval.length).sum / 1e3
  /** A span's wall time minus the part its child spans cover, in ms. */
  private def selfMs(s: Span): Double = BenchMath.selfTime(s.interval,
    spans.filter(_.parent == s.id).map(_.interval))

  def metrics(docs: Long): Seq[(String, Double, String)] = {
    val parts = named("CheckpointedRun.partition")
    val partJobs = jobsIn("CheckpointedRun.partition")
    val partTasks = tasksOf(partJobs)
    val stageTasks = tasksOf(jobsIn("CheckpointedRun.stage"))
    val appendTasks = tasksOf(jobsIn("IcebergStyleTable.append"))
    val partWalls = parts.map(_.interval.length / 1e3)
    def pct(p: Double) =
      if (partWalls.isEmpty) 0.0 else BenchMath.percentile(partWalls, p)
    val rootJobs = jobs.filter(j => innermost(j.jobId) >= 0)
    def cpuS(ts: Seq[TaskRec]) = ts.map(_.cpuNs).sum / 1e9
    def failed(ts: Seq[TaskRec]) = ts.count(_.failed).toDouble
    Seq(
      ("QualityPipeline.task_cpu_us_per_doc",
        partTasks.map(_.cpuNs).sum / 1e3 / docs, "us"),
      ("CheckpointedRun.partition.wall_s", wallS("CheckpointedRun.partition"), "s"),
      ("CheckpointedRun.partition.wall_p50_s", pct(50), "s"),
      ("CheckpointedRun.partition.wall_p80_s", pct(80), "s"),
      ("CheckpointedRun.partition.jobs_per_partition",
        if (parts.isEmpty) 0.0 else partJobs.size.toDouble / parts.size, "count"),
      ("CheckpointedRun.partition.tasks", partTasks.size.toDouble, "count"),
      ("CheckpointedRun.partition.core_idle_s",
        BenchMath.coreIdle(parts.map(_.interval), partTasks.map(_.interval),
          cores) / 1e3, "s"),
      ("CheckpointedRun.partition.tasks_failed", failed(partTasks), "count"),
      ("RunJob.driver_self_s",
        BenchMath.selfTime(root.interval, jobs.map(_.interval)) / 1e3, "s"),
      ("RunJob.spark_jobs", rootJobs.size.toDouble, "count"),
      ("CheckpointedRun.stage.wall_s", wallS("CheckpointedRun.stage"), "s"),
      ("CheckpointedRun.stage.task_cpu_s", cpuS(stageTasks), "s"),
      ("CheckpointedRun.stage.shuffle_write_bytes",
        stageTasks.map(_.shuffleWriteBytes).sum.toDouble, "B"),
      ("CheckpointedRun.stage.bytes_written",
        stageTasks.map(_.bytesWritten).sum.toDouble, "B"),
      ("CheckpointedRun.stage.tasks_failed", failed(stageTasks), "count"),
      ("CheckpointedRun.useful_row_ratio",
        docs.toDouble / math.max(1L, partTasks.map(_.recordsWritten).sum),
        "ratio"),
      ("IcebergStyleTable.append.wall_s", wallS("IcebergStyleTable.append"), "s"),
      ("IcebergStyleTable.append.task_cpu_s", cpuS(appendTasks), "s"),
      ("IcebergStyleTable.append.shuffle_write_bytes",
        appendTasks.map(_.shuffleWriteBytes).sum.toDouble, "B"),
      ("IcebergStyleTable.append.tasks_failed", failed(appendTasks), "count"),
      ("trace.accounted_ratio", spans.map(selfMs).sum / root.interval.length,
        "ratio"))
  }

  /** One JSON line per span: the layer spans, then each Spark job as a
    * child of its layer span and each task as a child of its job. */
  def writeSpans(path: Path): Unit = {
    val layer = spans.map(s => Json.obj(Seq(
      "id" -> s"s${s.id}", "name" -> s.name,
      "parent" -> (if (s.parent < 0) "" else s"s${s.parent}"),
      "run_id" -> s.runId, "start_ms" -> s.start, "end_ms" -> s.end) ++
      s.attrs))
    val jobLines = jobs.map(j => Json.obj(Seq(
      "id" -> s"j${j.jobId}", "name" -> "spark.job",
      "parent" -> (if (innermost(j.jobId) < 0) "" else s"s${innermost(j.jobId)}"),
      "run_id" -> root.runId, "start_ms" -> j.start, "end_ms" -> j.end,
      "succeeded" -> j.succeeded)))
    val taskLines = tasks.sortBy(_.launch).map(t => Json.obj(Seq(
      "name" -> "spark.task", "parent" -> s"j${t.jobId}",
      "run_id" -> root.runId, "start_ms" -> t.launch, "end_ms" -> t.finish,
      "cpu_ms" -> t.cpuNs / 1e6, "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "bytes_written" -> t.bytesWritten, "records_written" -> t.recordsWritten,
      "failed" -> t.failed)))
    Files.write(path,
      (layer ++ jobLines ++ taskLines).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Per layer: calls, wall time, self time (wall minus child layer spans),
    * the part of the self time a Spark job of the layer's own was running,
    * the rest (driver time), and the layer's own jobs, tasks and task CPU. */
  def writeSelfTime(path: Path): Unit = {
    val header = Seq("layer", "calls", "wall_s", "self_s", "spark_busy_s",
      "driver_s", "jobs", "tasks", "task_cpu_s").mkString("\t")
    val rows = spans.map(_.name).distinct.map { n =>
      val ss = named(n)
      val self = ss.map(selfMs).sum
      val own = jobs.filter(j => ss.exists(_.id == innermost(j.jobId)))
      val busy = ss.map(s => BenchMath.covered(s.interval,
        own.filter(j => innermost(j.jobId) == s.id).map(_.interval))).sum
      val ts = tasksOf(own)
      Seq(n, ss.size.toString, f"${wallS(n)}%.3f", f"${self / 1e3}%.3f",
        f"${busy / 1e3}%.3f", f"${(self - busy) / 1e3}%.3f",
        own.size.toString, ts.size.toString,
        f"${ts.map(_.cpuNs).sum / 1e9}%.3f").mkString("\t")
    }
    val total = f"# traced wall ${root.interval.length / 1e3}%.3f s; " +
      f"self times sum to ${spans.map(selfMs).sum / 1e3}%.3f s"
    Files.write(path, (header +: rows :+ total).mkString("", "\n", "\n")
      .getBytes(UTF_8))
  }
}
