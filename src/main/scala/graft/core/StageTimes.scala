package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Per-stage wall-time accounting for the fused pipeline (BASELINE.json:
  * "per-stage metrics (langid, perplexity, heuristics, scrub) logged per
  * partition"), and the only clock of the kernel's stages.
  *
  * The fused pass cannot be timed from the plan (one expression), so
  * [[DocProcessor]] reads `nanoTime` at the boundaries of the five
  * [[StageTimes.stages]] of each document (&lt;0.1% of per-doc cost) and
  * charges the differences to the `StageTimes` of the expression that
  * evaluated it: one Spark accumulator per stage, in [[StageTimes.stages]]
  * order, plus one that counts the documents whose five stages completed.
  * They are registered on the driver when the expression is built. Spark
  * ships them with every task that evaluates the expression, each task
  * charges its own copy, and the driver merges the copies of the tasks
  * that succeed, whichever executor ran them. A task's copy is used by
  * that task's thread alone. A job's share of the time is therefore read
  * from the plan it ran, and jobs that run at once never mix.
  */
final class StageTimes private (private val nanos: Array[LongAccumulator],
                                private val docs: LongAccumulator)
    extends Serializable {

  /** Charge one document: `t0..t5` are the `nanoTime` reads at the
    * boundaries of the five stages. */
  def record(t0: Long, t1: Long, t2: Long, t3: Long, t4: Long,
             t5: Long): Unit = {
    nanos(0).add(t1 - t0)
    nanos(1).add(t2 - t1)
    nanos(2).add(t3 - t2)
    nanos(3).add(t4 - t3)
    nanos(4).add(t5 - t4)
    docs.add(1L)
  }
}

object StageTimes {

  val stages: IndexedSeq[String] =
    IndexedSeq("tokenize", "pii_scrub", "langid", "perplexity", "heuristics")

  def apply(sc: SparkContext): StageTimes = new StageTimes(
    stages.map(s => sc.longAccumulator(s"graft.$s.nanos")).toArray,
    sc.longAccumulator("graft.docs"))

  /** The nanos per stage and the documents merged so far into `times`,
    * summed; 0 each if there is none. Read on the driver. */
  def sum(times: Seq[StageTimes]): (Map[String, Long], Long) =
    (stages.indices.map(i => stages(i) -> times.map(_.nanos(i).sum).sum).toMap,
      times.map(_.docs.sum).sum)
}
