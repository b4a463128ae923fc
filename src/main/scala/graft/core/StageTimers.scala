package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Per-stage wall-time accounting for the fused pipeline (BASELINE.json:
  * "per-stage metrics (langid, perplexity, heuristics, scrub) logged per
  * partition").
  *
  * The fused pass cannot be timed from the plan (one expression), so
  * [[DocProcessor]] adds ~5 `nanoTime` reads per document (&lt;0.1% of
  * per-doc cost) into JVM-wide [[LongAdder]]s. They are additive and need
  * no synchronization on the hot path.
  *
  * A caller that wants one job's share of the totals — several partition
  * jobs may run at once — opens a named [[Scope]]; a document processed
  * with that scope is charged to it as well as to the JVM-wide totals.
  * Only a JVM that opened the scope records into it: where the kernel
  * runs elsewhere (executors on a cluster) the lookup finds nothing and
  * the scope reads zero.
  */
object StageTimers {

  val stages: IndexedSeq[String] =
    IndexedSeq("tokenize", "pii_scrub", "langid", "perplexity", "heuristics")

  /** One caller's share of the per-stage nanos, in [[stages]] order. */
  final class Scope private[StageTimers] {
    private[StageTimers] val nanos = Array.fill(stages.size)(new LongAdder)
  }

  private val nanos = Array.fill(stages.size)(new LongAdder)
  private val docs = new LongAdder
  private val scopes = new ConcurrentHashMap[String, Scope]()

  /** Charge one document: `t0..t5` are the `nanoTime` reads at the
    * boundaries of the five [[stages]]; `scope` may be null. */
  def record(scope: Scope, t0: Long, t1: Long, t2: Long, t3: Long,
             t4: Long, t5: Long): Unit = {
    charge(scope, 0, t1 - t0)
    charge(scope, 1, t2 - t1)
    charge(scope, 2, t3 - t2)
    charge(scope, 3, t4 - t3)
    charge(scope, 4, t5 - t4)
    docs.increment()
  }

  @inline private def charge(scope: Scope, i: Int, dt: Long): Unit = {
    nanos(i).add(dt)
    if (scope != null) scope.nanos(i).add(dt)
  }

  /** Start recording into a new scope called `name`. */
  def openScope(name: String): Unit = scopes.put(name, new Scope)

  /** The open scope called `name`, or null (also for a null name). */
  def scope(name: String): Scope =
    if (name == null) null else scopes.get(name)

  /** Stop recording into the open scope `name` and return its
    * per-stage nanos. */
  def closeScope(name: String): Map[String, Long] = {
    val s = scopes.remove(name)
    stages.indices.map(i => stages(i) -> s.nanos(i).sum()).toMap
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
