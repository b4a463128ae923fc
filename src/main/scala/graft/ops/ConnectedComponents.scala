package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed connected components by alternating large-star /
  * small-star (Kiveris et al. 2014, "Connected Components in MapReduce
  * and Beyond") — the scale-path replacement for plain min-label
  * propagation:
  *
  *   - O(log n) rounds instead of O(component diameter);
  *   - every per-node reduction is a partial-aggregated `min` (no
  *     collect_list, no label hubs), so a skewed high-degree node costs
  *     one aggregation key, not a reducer-sized value buffer;
  *   - each phase is exactly ONE Spark job: the edge set is eagerly
  *     localCheckpoint-ed with the convergence signature collected from
  *     the SAME job via `Dataset.observe` (round 2 ran a separate
  *     join+count action per round — twice the driver latency).
  *
  * Convergence = two consecutive small-star outputs with identical
  * (count, order-independent hash-sum) signatures; a final single
  * verification join asserts label consistency over the ORIGINAL edges,
  * so a signature collision can never silently mislabel.
  */
object ConnectedComponents {

  /** Eagerly materialize `df` while collecting `metrics` from the same
    * job (an `Observation` on the checkpoint — no second action). */
  private def checkpointObserved(
      df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(true)
    (out, obs.get)
  }

  /** Order-independent edge-set signature: count + decimal hash-sum
    * (decimal, not BIGINT — Long sum can overflow under ANSI mode). */
  private def signature: Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")).as("hsum"))

  /** large-star: every node connects its strictly-larger neighbors to
    * the minimum of its closed neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("src"), col("dst"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = und.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    und.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      // distinct is load-bearing at scale: near-dup components are
      // clique-heavy, and for a k-clique it collapses ~k^2/2 (dst, min)
      // duplicates to ~k rows before the next phase's shuffles
      // (measured round 6: dropping it did not help even at bench scale)
      .distinct()
  }

  /** small-star: every node connects its smaller-or-equal neighborhood
    * (and itself) to that neighborhood's minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val m = o.groupBy(col("src")).agg(min(col("dst")).as("m"))
    o.join(m, "src").select(col("dst").as("src"), col("m").as("dst"))
      .unionAll(m.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Component labels for the endpoint nodes of `edges0(src, dst)`:
    * DF(id, cluster_id) with cluster_id = the component's minimum node
    * id. Nodes with no edges are the caller's concern (they are their
    * own singleton clusters by definition). */
  /** Release the storage blocks of a `localCheckpoint(true)`-ed frame.
    * `Dataset.unpersist` only clears CacheManager entries; checkpoint
    * blocks belong to the RDD inside the plan's LogicalRDD leaf, so they
    * are freed there. Without this, an O(log n)-round run holds TWO edge
    * copies per iteration in the storage tier until driver GC happens to
    * trigger the ContextCleaner — on a large edge set that evicts or
    * spills live data for the rest of the job. Called only AFTER the
    * successor frame is materialized (the checkpoint truncated lineage,
    * so nothing downstream re-reads the released blocks). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def labels(edges0: DataFrame, maxPhases: Int = 64): DataFrame = {
    val orig = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)

    var e = orig
    var prevCnt = -1L
    var prevH: java.math.BigDecimal = null
    var phases = 0
    var converged = false
    while (!converged && phases < maxPhases) {
      // ONE composed job per iteration (round 6): large-star feeds
      // small-star lazily — materializing the large-star intermediate
      // bought nothing (it was consumed exactly once) and cost a full
      // extra action + checkpoint per iteration, which at the driver is
      // half the loop's latency. Identical math and
      // identical convergence sequence: the signature is observed on the
      // same small-star output as before.
      val (e2, sig) = checkpointObserved(smallStar(largeStar(e)), signature)
      // e2 is materialized: the previous edge set is dead — release its
      // blocks now (orig is still needed by the verification join below)
      if (e ne orig) releaseCheckpoint(e)
      val cnt = sig("cnt").asInstanceOf[Long]
      val h = sig("hsum").asInstanceOf[java.math.BigDecimal]
      converged = cnt == prevCnt &&
        ((h == null && prevH == null) || (h != null && h.compareTo(prevH) == 0))
      prevCnt = cnt
      prevH = h
      e = e2
      phases += 2
    }
    require(converged || prevCnt == 0,
      s"connected components did not converge within $maxPhases phases")

    val lab = e.select(col("src").as("id"), col("dst").as("cluster_id"))
      .unionAll(e.select(col("dst").as("id"), col("dst").as("cluster_id")))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      .localCheckpoint(true)
    if (e ne orig) releaseCheckpoint(e) // lab is materialized

    // fail loudly rather than emit an inconsistent labeling (also guards
    // the probabilistic signature convergence): every original edge must
    // connect same-labeled endpoints
    val la = lab.select(col("id").as("src"), col("cluster_id").as("ca"))
    val lb = lab.select(col("id").as("dst"), col("cluster_id").as("cb"))
    val violations = orig.join(la, "src").join(lb, "dst")
      .filter(col("ca") =!= col("cb")).count()
    releaseCheckpoint(orig)
    require(violations == 0,
      s"connected components labeling inconsistent on $violations edges")
    lab
  }
}
