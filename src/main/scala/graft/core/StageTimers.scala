package graft.core

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Per-stage wall-time accounting for the fused pipeline (BASELINE.json:
  * "per-stage metrics (langid, perplexity, heuristics, scrub) logged per
  * partition").
  *
  * The fused pass cannot be timed from the plan (one expression), so
  * [[DocProcessor]] adds ~5 `nanoTime` reads per document (&lt;0.1% of
  * per-doc cost) into JVM-wide [[LongAdder]]s. They are additive and need
  * no synchronization on the hot path.
  *
  * A caller that wants one job's share of the time — several partition
  * jobs may run at once, on other JVMs — reads the [[StageTimes]] of the
  * expression that job evaluated: a document processed with it is charged
  * to it as well as to the JVM-wide totals.
  */
object StageTimers {

  val stages: IndexedSeq[String] =
    IndexedSeq("tokenize", "pii_scrub", "langid", "perplexity", "heuristics")

  private val nanos = Array.fill(stages.size)(new LongAdder)
  private val docs = new LongAdder

  /** Charge one document: `t0..t5` are the `nanoTime` reads at the
    * boundaries of the five [[stages]]; `times` may be null. */
  def record(times: StageTimes, t0: Long, t1: Long, t2: Long, t3: Long,
             t4: Long, t5: Long): Unit = {
    charge(times, 0, t1 - t0)
    charge(times, 1, t2 - t1)
    charge(times, 2, t3 - t2)
    charge(times, 3, t4 - t3)
    charge(times, 4, t5 - t4)
    docs.increment()
  }

  @inline private def charge(times: StageTimes, i: Int, dt: Long): Unit = {
    nanos(i).add(dt)
    if (times != null) times.nanos(i).add(dt)
  }

  /** Current totals in nanos, plus processed doc count. */
  def snapshot(): (Map[String, Long], Long) =
    (stages.indices.map(i => stages(i) -> nanos(i).sum()).toMap, docs.sum())

  /** Delta between two snapshots. */
  def delta(before: (Map[String, Long], Long),
            after: (Map[String, Long], Long)): (Map[String, Long], Long) =
    (stages.map(s => s -> (after._1(s) - before._1(s))).toMap,
      after._2 - before._2)
}

/** One expression's share of the stage times: a Spark accumulator per
  * stage, in [[StageTimers.stages]] order, registered on the driver.
  * Spark ships them with every task that evaluates the expression, each
  * task charges its own copy, and the driver merges the copies of the
  * tasks that succeed, whichever executor ran them. A task's copy is used
  * by that task's thread alone. */
final class StageTimes private (
    private[core] val nanos: Array[LongAccumulator]) extends Serializable

object StageTimes {

  def apply(sc: SparkContext): StageTimes = new StageTimes(
    StageTimers.stages.map(s => sc.longAccumulator(s"graft.$s.nanos")).toArray)

  /** The nanos per stage merged so far into `times`, summed; 0 for each
    * stage if there is none. Read on the driver. */
  def sum(times: Seq[StageTimes]): Map[String, Long] =
    StageTimers.stages.indices.map(i =>
      StageTimers.stages(i) -> times.map(_.nanos(i).sum).sum).toMap
}
