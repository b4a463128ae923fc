package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Physical-plan audits: the shapes that matter at 100 TB, asserted so a
  * refactor cannot silently regress them. Each mirrors a scale argument
  * made in SURVEY/README:
  *   - projection + filter pushdown reach the parquet scan;
  *   - small dimensions broadcast (no shuffle join for nation/customer);
  *   - IVF assignment is a pure map (no Window, no per-row join);
  *   - the LSH dedup plan contains no cartesian/nested-loop product;
  *   - the brute-force pairwise stage (test-scale by design) is the ONLY
  *     query allowed a nested-loop join.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("s1_scan_project: column pruning + filter pushdown reach the scan") {
    val p = plan("s1_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(text)]"), p.take(1500))
    // pruned read schema: the projected columns + the filter column only
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schemaLine.contains("lang"), schemaLine)
  }

  test("q2_join_topn: both dimension joins broadcast") {
    val p = plan("q2_join_topn")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("ann_ivf_topk: assignment is a map — no Window, no per-row join") {
    val p = plan("ann_ivf_topk")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("graft_ivf_assign"), p.take(2000))
  }

  test("ann_lsh_topk: native signature, no interpreted HOF in the plan") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("graft_lsh_project"), p.take(2000))
    assert(!p.contains("aggregate(zip_with"), p.take(2000))
  }

  // the d1-d3 per-type counts are native array functions, and the shared
  // plantings are flat || chains: a lambdafunction would push the query's
  // projection, kernel included, out of whole-stage codegen
  test("shared-planting queries: no lambda in the executed plan") {
    Seq("d1_pii_counts", "d2_pii_matches", "d3_pii_financial", "j2_scrub",
        "toxicity_blocklist", "dedup_exact", "dedup_simhash",
        "text_fingerprint", "dedup_ngram_jaccard", "dedup_minhash_pairs")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("lambdafunction"), s"$q:\n${p.take(3000)}")
      }
  }

  test("dedup_minhash_pairs: no cartesian or nested-loop join anywhere") {
    val p = plan("dedup_minhash_pairs")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("connected-components phases: min-aggregation is partial+final " +
      "(skew-safe), no cartesian/nested-loop anywhere in a phase") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a representative phase plan: star transforms are groupBy(min)+join
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = und.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    val phase = und.join(m, "src").filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst")).distinct()
    val p = phase.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the per-node min is partial-aggregated before its exchange — a
    // high-degree hub costs one agg key, not a reducer-sized buffer
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final min agg\n${p.take(2000)}")
  }

  test("pipeline: the plan is a single shuffle-free projection over the " +
      "scan (no Exchange) and the fused kernel appears exactly once") {
    val pages = graft.model.PagesSynth.pages(spark, 50, 2,
      validated = false)
    val p = graft.pipeline.QualityPipeline(pages)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000))
    val fused = p.linesIterator
      .count(_.contains("graft_page_process"))
    assert(fused >= 1, p.take(3000))
  }

  test("pipeline projection is INSIDE whole-stage codegen (round 4): the " +
      "fused kernel line carries a *(n) WSCG marker — a CodegenFallback " +
      "regression would drop the whole projection out of the span") {
    // read from parquet (LocalTableScan relations skip WSCG entirely, so
    // an in-memory pages frame cannot witness this property)
    val dir = java.nio.file.Files.createTempDirectory("planaudit_wscg")
    graft.model.PagesSynth.pages(spark, 50, 2, validated = false)
      .write.mode("overwrite").parquet(dir.toString)
    val p = graft.pipeline.QualityPipeline(spark.read.parquet(dir.toString))
      .queryExecution.executedPlan.toString
    val kernelLine = p.linesIterator
      .find(_.contains("graft_page_process")).getOrElse("")
    assert(kernelLine.contains("*("),
      s"fused kernel outside WSCG:\n${p.take(3000)}")
  }

  test("text_token_counts: BPE counting is a native expression in the " +
      "scan projection — no join, no shuffle") {
    val p = plan("text_token_counts")
    assert(p.contains("graft_bpe_count"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("events_window/q1_agg: partial aggregation before the shuffle") {
    Seq("events_window", "q1_agg").foreach { q =>
      val p = plan(q)
      // HashAggregate appears twice (partial + final) around one Exchange
      val aggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(aggs >= 2, s"$q: expected partial+final agg\n${p.take(1500)}")
    }
  }
}
