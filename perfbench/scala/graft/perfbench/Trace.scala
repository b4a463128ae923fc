package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

import BenchMath.Interval

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for the root); all spans of one traced run share
  * `runId`. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double,
                      attrs: Seq[(String, Any)] = Nil) {
  def interval: Interval = Interval(start, end)
}

object Trace {
  /** Wall clock in epoch milliseconds with microsecond precision — the
    * clock Spark stamps its listener events with. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

/** Collects spans in memory; they are written out after the run. */
final class Tracer(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def spans: Seq[Span] = buf.toSeq

  def add(name: String, parent: Int, start: Double, end: Double,
          attrs: Seq[(String, Any)] = Nil): Int = synchronized {
    val id = buf.length
    buf += Span(id, name, parent, runId, start, end, attrs)
    id
  }

  /** Open a span now; [[close]] sets its end. */
  def open(name: String, parent: Int, attrs: Seq[(String, Any)] = Nil): Int =
    add(name, parent, Trace.nowMs(), Double.NaN, attrs)

  def close(id: Int, end: Double = Trace.nowMs()): Unit = synchronized {
    buf(id) = buf(id).copy(end = end)
  }

  /** Time `body` as a span named `name`; the span is closed even when
    * `body` throws, so a killed attempt still shows. `body` gets the new
    * span's id to parent its own children on. */
  def span[A](name: String, parent: Int)(body: Int => A): A = {
    val id = open(name, parent)
    try body(id) finally close(id)
  }
}

/** One Spark task as the listener saw it. */
final case class TaskRec(jobId: Int, launch: Double, finish: Double,
                         cpuNs: Long, shuffleWriteBytes: Long,
                         bytesWritten: Long, recordsWritten: Long,
                         failed: Boolean) {
  def interval: Interval = Interval(launch, finish)
}

final case class JobRec(jobId: Int, start: Double, end: Double,
                        succeeded: Boolean) {
  def interval: Interval = Interval(start, end)
}

/** Records every Spark job and task with its time, CPU, bytes and outcome.
  * Stages map to jobs through the job-start event, so each task is charged
  * to the job that submitted its stage. */
final class TaskRecorder extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val jobEnds = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.get(e.jobId)).getOrElse(e.time.toDouble)
    jobEnds.add(JobRec(e.jobId, start, e.time.toDouble,
      e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    taskQ.add(TaskRec(
      jobId = Option(stageJob.get(e.stageId)).getOrElse(-1),
      launch = e.taskInfo.launchTime.toDouble,
      finish = e.taskInfo.finishTime.toDouble,
      cpuNs = m.map(t => t.executorCpuTime + t.executorDeserializeCpuTime)
        .getOrElse(0L),
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten)
        .getOrElse(0L),
      bytesWritten = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      recordsWritten = m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
      failed = e.reason != Success))
  }

  def jobs: Seq[JobRec] = jobEnds.asScala.toSeq.sortBy(_.start)
  def tasks: Seq[TaskRec] = taskQ.asScala.toSeq
}
