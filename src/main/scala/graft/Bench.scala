package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver bench harness: one JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Primary measurement (BASELINE.md): end-to-end quality-filter pipeline
  * (langid + perplexity + heuristics + scrub) docs/sec over the synthetic
  * pages table at four parallelism levels — local[4/8/16/32], the sandbox
  * stand-in for cluster sizes — on the SAME materialized input. Reports
  * docs/sec per level and the two N→4N scaling-efficiency pairs:
  *
  *   - 4→16: both levels leave host headroom — the clean evidence for the
  *     north-rule N vs 4N criterion;
  *   - 8→32: the top level saturates every host vCPU and measurably incurs
  *     hypervisor steal (reported via /proc/stat jiffies), so it
  *     understates true scaling; reported alongside for completeness.
  *
  * Methodology: one throwaway full-parallelism warmup session (32-way JIT
  * warmth measured necessary — without it the first high-parallelism run
  * reads ~3x slow), then the levels are run INTERLEAVED round-robin over
  * several cycles (4-8-16-32, 4-8-16-32, …) and each efficiency pair is
  * computed within its own cycle, reporting the median pair across cycles
  * plus the per-cycle spread. Rationale (round-2 verdict): the host is a
  * shared VM with minutes-scale noise windows (hypervisor steal, ±15%);
  * measuring each level in one sequential block let a single noisy window
  * skew one level and produce a physically impossible superlinear pair.
  * Interleaving puts every level inside every noise window, and the
  * median of per-cycle ratios is robust to one bad cycle. Cycles whose
  * own /proc/stat steal reading exceeds a threshold are excluded from
  * the headline medians (contamination flagged by a signal independent
  * of this engine; a severely stolen window was measured producing
  * per-cycle ratios of 0.28-1.67 — unusable arithmetic); all cycles and
  * their steal readings are still reported, and up to 2 extra cycles run
  * by default (SPARK_GRAFT_BENCH_MAX_CYCLES-tunable) when rejection
  * leaves fewer than 3 clean ones. Per pass: scan → pipeline → noop
  * write (forces all columns, no collect).
  */
object Bench {

  /** Default 1M docs (round 5, up from 400k): the round-5 scanner work
    * cut per-doc cost ~3x, so a 400k-doc pass at local[32] fell to
    * ~3.3 s and fixed per-pass overhead plus short-run variance began
    * dominating the efficiency pairs (measured: 4→16 wall 0.740 at 400k
    * vs 0.896 at 4M on the SAME code and window class). 1M restores the
    * pass lengths the interleaved-median methodology was designed
    * around; the sandbox stand-in still models per-executor throughput,
    * which on a real cluster amortizes over hours, not seconds. */
  private val BenchDocs: Long =
    sys.env.get("SPARK_GRAFT_BENCH_DOCS").map(_.toLong).getOrElse(1000000L)

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Pin file-split sizing: Spark's default maxSplitBytes =
      // min(128MB, max(openCost, totalSize/defaultParallelism)) packed
      // the 64-split pages table into ~6 scan partitions at local[4]
      // (measured: two ragged task waves, ~70% thread occupancy, every
      // 4→16 pair superlinear at 1.1-1.26 — a scan-layout artifact, not
      // engine scaling). 8MB splits keep every generated file its own
      // task: >= 2 even waves at every level, occupancy back to ~1.0.
      // Same lever as sizing input splits per executor on a real
      // cluster (SURVEY §4.3).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .withExtensions(new graft.expr.GraftExtensions)
      .getOrCreate()
  }

  private def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val first = try src.getLines().next() finally src.close()
      first.trim.split("\\s+")(8).toLong
    } catch { case _: Throwable => 0L }

  /** This process's consumed CPU (utime + stime, jiffies @ 100 Hz) from
    * /proc/self/stat — the basis of the CPU-TIME efficiency evidence: if
    * CPU-per-doc is flat from local[8] to local[32] while wall-clock
    * efficiency drops, the engine provably does constant work per doc and
    * the wall loss is host steal / oversubscription, not engine
    * contention (round-3 verdict ask #2). */
  private def procSelfCpuJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      val stat = try src.mkString finally src.close()
      // comm (field 2) may contain spaces — split after the closing ')'
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong // utime + stime (fields 14, 15)
    } catch { case _: Throwable => 0L }

  /** Cumulative stop-the-world GC wall millis across all collectors —
    * attributes the CPU-per-doc inflation at full saturation: if GC time
    * grows super-linearly from local[8] to local[32] it is the heap, not
    * the kernels. */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** One pass: its wall seconds, and the fused kernel's nanos per stage
    * and documents, read from the pass's own plan. */
  private def runPipeline(
      spark: SparkSession,
      pagesPath: String): (Double, Map[String, Long], Long) = {
    val t0 = System.nanoTime()
    val out = graft.pipeline.QualityPipeline(spark.read.parquet(pagesPath))
    out.write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    val (stageNanos, docs) = graft.expr.PageProcess.stageTimes(out)
    (t, stageNanos, docs)
  }

  def main(args: Array[String]): Unit = {
    // the output line is consumed by json.load — a comma-decimal default
    // locale (de_DE etc.) would render f"%.3f" as 0,848 and invalidate
    // the whole round's bench JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // 1. materialize the deterministic pages table once (64 splits).
    // Cache key includes a GENERATOR FINGERPRINT (sample rows hashed), so
    // a changed PagesSynth invalidates the cache instead of silently
    // benchmarking last round's materialized input forever.
    val genSig = {
      var h = 0x811c9dc5
      (0L until 8L).foreach { id =>
        val r = graft.model.PagesSynth.generate(id, validated = false)._2
        h = h * 31 + r.text.map(_.hashCode).getOrElse(0)
        h = h * 31 + r.html.map(b => java.util.Arrays.hashCode(b)).getOrElse(0)
      }
      (h & 0x7fffffff).toHexString
    }
    val pagesPath = s"target/bench_pages_${BenchDocs}_$genSig"
    if (!Files.exists(Paths.get(pagesPath, "_SUCCESS"))) {
      val s = session(cpus)
      s.sparkContext.setLogLevel("WARN")
      graft.model.PagesSynth.pages(s, BenchDocs, 64, validated = false)
        .write.mode("overwrite").parquet(pagesPath)
      s.stop()
    }

    // 2. global JIT warmup at full parallelism (throwaway session)
    locally {
      val s = session(cpus)
      s.sparkContext.setLogLevel("WARN")
      runPipeline(s, pagesPath)
      runPipeline(s, pagesPath)
      s.stop()
    }

    // 3. timed pipeline at each parallelism level, INTERLEAVED round-robin
    //    across cycles (same input, hot JVM; see methodology above).
    //    Each cycle carries its own hypervisor-steal reading: a cycle that
    //    lost CPU to the host neighborhood is CONTAMINATED by a signal
    //    independent of this engine, and is excluded from the headline
    //    medians (all cycles are still reported). If rejection leaves too
    //    few clean cycles, up to `maxCycles` total are run.
    val levels = Seq(4, 8, 16, 32)
    // defaults sized so the worst case (max extended cycles in a stolen
    // window) stays within ~2x the typical run — the 1M-doc input made
    // cycles ~65 s, and an unbounded extension risks outliving a caller's
    // step timeout (which silently costs the round's bench signal)
    val baseCycles =
      sys.env.get("SPARK_GRAFT_BENCH_CYCLES").map(_.toInt).getOrElse(4)
    val maxCycles =
      sys.env.get("SPARK_GRAFT_BENCH_MAX_CYCLES").map(_.toInt)
        .getOrElse(baseCycles + 2)
    // ~1000 jiffies = 10 stolen core-seconds across a ~60 core-second
    // cycle — beyond this the ratio arithmetic is host noise, not signal
    val stealRejectThreshold =
      sys.env.get("SPARK_GRAFT_BENCH_STEAL_MAX").map(_.toLong).getOrElse(1000L)
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // cycleTimes(level) = one timed pass per cycle, in cycle order
    val cycleTimes = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val cycleSteal = scala.collection.mutable.ArrayBuffer[Long]()
    // per-level, per-cycle series: process CPU (jiffies), steal during the
    // timed pass, fused-kernel nanos + docs (runPipeline) — the CPU-time
    // evidence runs alongside every wall measurement
    val cycleCpu = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Long]()).toMap
    val cycleStealLvl = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Long]()).toMap
    val kernelNanos = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Long]()).toMap
    val kernelDocs = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Long]()).toMap
    val cycleGc = levels.map(l => l ->
      scala.collection.mutable.ArrayBuffer[Long]()).toMap
    // per-cycle stage maps so the profile can be restricted to CLEAN
    // cycles at the end (stage times measure thread-wall inside the
    // kernel, which preemption inflates — a stolen window would otherwise
    // contaminate the per-stage µs/doc exactly like the headline times)
    val stage32Cycles =
      scala.collection.mutable.ArrayBuffer[(Map[String, Long], Long)]()

    def runCycle(cycle: Int): Unit = {
      val cst0 = stealJiffies
      levels.foreach { level =>
        val s = session(level)
        s.sparkContext.setLogLevel("WARN")
        if (cycle == 1) runPipeline(s, pagesPath) // per-session first warmup
        val st0 = stealJiffies
        val cpu0 = procSelfCpuJiffies
        val gc0 = gcMillis
        val (t, stageNanos, nDocs) = runPipeline(s, pagesPath)
        cycleGc(level) += gcMillis - gc0
        cycleCpu(level) += procSelfCpuJiffies - cpu0
        cycleStealLvl(level) += stealJiffies - st0
        cycleTimes(level) += t
        kernelNanos(level) += stageNanos.values.sum
        kernelDocs(level) += nDocs
        if (level == 32) stage32Cycles += ((stageNanos, nDocs))
        s.stop()
      }
      cycleSteal += stealJiffies - cst0
    }

    var cycle = 0
    def cleanCycles: Seq[Int] =
      cycleSteal.indices.filter(cycleSteal(_) <= stealRejectThreshold)
    while (cycle < baseCycles ||
        (cleanCycles.size < 3 && cycle < maxCycles)) {
      cycle += 1
      runCycle(cycle)
    }
    val cyclesRun = cycle
    // if even the extended run never saw 3 clean windows, fall back to
    // using everything — an all-contaminated report is labeled by its own
    // steal numbers rather than silently thinned
    val used: Seq[Int] =
      if (cleanCycles.size >= 3) cleanCycles else cycleSteal.indices.toSeq

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // headline per-level time = median across CLEAN cycles (conservative
    // vs the round-2 best-of-N convention — best-of is reported alongside
    // for cross-round continuity)
    val times = levels.map(l =>
      l -> median(used.map(cycleTimes(l)(_)))).toMap
    val bests = levels.map(l => l -> cycleTimes(l).min).toMap
    levels.foreach(l => results(s"pipeline_local$l") = times(l))
    levels.foreach(l => results(s"pipeline_local${l}_best") = bests(l))
    // stage profile over CLEAN level-32 passes only — same selection as
    // the headline medians
    val stage32Docs = used.map(stage32Cycles(_)._2).sum
    graft.core.StageTimes.stages.foreach { st =>
      val ns = used.map(c => stage32Cycles(c)._1.getOrElse(st, 0L))
        .map(BigInt(_)).sum
      results(s"stage_${st}_us_per_doc") =
        if (stage32Docs == 0) 0.0 else (ns.toDouble / 1e3) / stage32Docs
    }
    // efficiency pairs computed WITHIN each cycle; headline = median over
    // clean cycles, full per-cycle arrays reported as the spread
    def effCycle(c: Int, n: Int, n4: Int): Double =
      (cycleTimes(n)(c) * n) / (cycleTimes(n4)(c) * n4)
    val eff416All = (0 until cyclesRun).map(effCycle(_, 4, 16))
    val eff832All = (0 until cyclesRun).map(effCycle(_, 8, 32))
    // A pair > 1.05 is PHYSICALLY IMPOSSIBLE for a constant-work job
    // (superlinear scaling = the lower level was externally slowed in
    // that cycle) — a contamination marker independent of the steal
    // counter, which misses memory-bandwidth-only neighbor noise
    // (measured: a sub-threshold-steal window still produced a 1.92
    // cycle). Dropping ONLY the impossible side is conservative: it can
    // lower our reported efficiency, never raise it. All cycles stay in
    // the published arrays.
    def plausible(xs: Seq[Double]): Seq[Double] = {
      val p = xs.filter(_ <= 1.05)
      if (p.nonEmpty) p else xs
    }
    val eff416 = plausible(used.map(effCycle(_, 4, 16)))
    val eff832 = plausible(used.map(effCycle(_, 8, 32)))

    // CPU-TIME efficiency (round-3 verdict ask #2): every level processes
    // the SAME docs, so the process-CPU ratio IS the per-doc CPU ratio.
    // cpu_eff(N→4N) = cpu(N)/cpu(4N): 1.0 = constant work per doc at both
    // levels (wall-clock loss is then provably host steal/oversubscription,
    // not engine contention); < 1.0 = the higher level burns more CPU per
    // doc — a real contention signal (GC pressure, allocator/memory-stall
    // spin) worth chasing.
    def cpuEffCycle(c: Int, n: Int, n4: Int): Double =
      if (cycleCpu(n4)(c) == 0) 0.0
      else cycleCpu(n)(c).toDouble / cycleCpu(n4)(c)
    val cpuEff416 = used.map(cpuEffCycle(_, 4, 16))
    val cpuEff832 = used.map(cpuEffCycle(_, 8, 32))
    val cpuEff832All = (0 until cyclesRun).map(cpuEffCycle(_, 8, 32))
    val cpuSec = levels.map(l =>
      l -> median(used.map(cycleCpu(l)(_).toDouble / 100.0))).toMap
    // fused-kernel CPU per doc from the stage times (engine work only, no
    // Spark overhead) — the second, independent constant-work-per-doc
    // witness
    val kernelUsPerDoc = levels.map { l =>
      val ns = used.map(c => kernelNanos(l)(c)).map(BigInt(_)).sum
      val docs = used.map(c => kernelDocs(l)(c)).sum
      l -> (if (docs == 0) 0.0 else (ns.toDouble / 1e3) / docs)
    }.toMap
    // per-level steal over the CLEAN (used) cycles — these describe the
    // runs the headline medians came from; all-cycle totals are reported
    // separately (round-3 advice: the old single number mixed the two)
    val stealClean = levels.map(l =>
      l -> used.map(cycleStealLvl(l)(_)).sum).toMap
    val stealAll = levels.map(l => l -> cycleStealLvl(l).sum).toMap

    // Degraded-window detector for the 8→32 pair (mechanical, not
    // narrative): the collapse mode measured in round 4 — all-core
    // memory-bandwidth/frequency contention on the shared VM — inflates
    // CPU-seconds at the top level while GC stays flat and steal near
    // zero, so it evades the steal filter. A cycle doing EQUAL work whose
    // cpu_eff(8→32) < 0.75 is flagged degraded; the wall-efficiency
    // median over the remaining (undisturbed) cycles is reported
    // alongside the all-clean-cycles median, separating host physics
    // from engine scaling by measurement.
    val cpuEffDegradedThreshold = 0.75
    val used832Undisturbed = used.filter { c =>
      val ce = cpuEffCycle(c, 8, 32)
      // ce == 0 means CPU accounting was unavailable (no /proc/self/stat)
      // — unknown is NOT degraded; only a measured-low ratio classifies
      ce == 0.0 || ce >= cpuEffDegradedThreshold
    }
    val n832Degraded = used.size - used832Undisturbed.size
    val eff832Undisturbed =
      if (used832Undisturbed.nonEmpty)
        median(plausible(used832Undisturbed.map(effCycle(_, 8, 32))))
      else median(eff832) // every cycle degraded: no separate evidence —
                          // fall back to the headline median (labeled by
                          // n_cycles_8_to_32_degraded == cycles_used)

    val dps = (levels.map(l =>
      f""""docs_per_sec_local$l":${BenchDocs / times(l)}%.1f""") ++
      levels.map(l =>
        f""""docs_per_sec_local${l}_best":${BenchDocs / bests(l)}%.1f"""))
      .mkString(",")
    // RUN-KEYED detail file alongside the rolling last_run.json: a later
    // (smaller) bench invocation overwrites last_run.json, so "copy
    // last_run.json to record a run" races with subsequent runs — it
    // measurably swapped a 20k-doc smoke in for a committed 1M-doc run's
    // evidence. The keyed file makes each configuration's latest detail
    // stable, and the headline points at it.
    val detailFile = {
      val sfName = new java.io.File(sfDir).getName
        .replaceAll("[^A-Za-z0-9._-]", "_")
      s"BENCH/detail_${sfName}_${BenchDocs}.json"
    }
    val headline =
      f"""{"metric":"pipeline_e2e_local32","value":${times(32)}%.3f,"unit":"sec","sf":"$sfDir","n_docs":$BenchDocs,$dps,"cpu_eff_4_to_16":${median(cpuEff416)}%.3f,"cpu_eff_8_to_32":${median(cpuEff832)}%.3f,"scaling_efficiency_4_to_16":${median(eff416)}%.3f,"scaling_efficiency_8_to_32":${median(eff832)}%.3f,"eff_8_to_32_undisturbed":$eff832Undisturbed%.3f,"n_cycles_8_to_32_degraded":$n832Degraded,"bench_cycles":$cyclesRun,"cycles_used":${used.size},"detail":"$detailFile"}"""

    // 4. headline per-operator queries at full parallelism on sfDir.
    // The scaling headline is PRINTED FIRST (it needs nothing from this
    // section): if a caller's step timeout lands mid-query-sweep, the
    // output tail still ends in one complete parseable JSON line — the
    // final print below supersedes it on a full run.
    println(headline)
    locally {
      val s = session(cpus)
      s.sparkContext.setLogLevel("WARN")
      Seq("d1_pii_counts", "d3_pii_financial", "j2_scrub", "langid_pred", "perplexity_score",
        "heuristics_basic", "toxicity_blocklist", "quality_score", "dedup_exact",
        "dedup_minhash_pairs", "dedup_clusters", "dedup_simhash",
        "dedup_embedding_pairs",
        "dedup_ngram_jaccard", "text_fingerprint",
        "knn_bruteforce", "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_auto",
        "emb_quantize_int8",
        "mm_decode_features", "mm_meta_extract",
        "events_window", "q1_agg", "q2_join_topn", "q3_window_topk",
        "q4_setop", "q5_rollup").foreach { name =>
        val q0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(s, sfDir)
            .write.format("noop").mode("overwrite").save()
          results(name) = (System.nanoTime() - q0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            results(name) = -1.0
        }
      }
      s.stop()
    }

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    def arr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val cpuJson = (levels.map(l =>
      f""""cpu_core_sec_local$l":${cpuSec(l)}%.1f""") ++
      // zero guard: a host without /proc/self/stat yields cpuSec = 0 and
      // a bare division would print literal Infinity — invalid JSON
      levels.map(l =>
        f""""docs_per_core_sec_local$l":${
          if (cpuSec(l) > 0) BenchDocs / cpuSec(l) else 0.0}%.1f""") ++
      Seq(f""""cpu_eff_4_to_16":${median(cpuEff416)}%.3f""",
        f""""cpu_eff_8_to_32":${median(cpuEff832)}%.3f""",
        s""""cpu_eff_8_to_32_cycles":${arr(cpuEff832All)}""",
        f""""kernel_us_per_doc_local8":${kernelUsPerDoc(8)}%.2f""",
        f""""kernel_us_per_doc_local32":${kernelUsPerDoc(32)}%.2f""") ++
      levels.map(l =>
        f""""gc_sec_local$l":${median(used.map(cycleGc(l)(_) / 1e3))}%.2f"""))
      .mkString(",")
    // DETAIL line: the 36 per-query timings, per-cycle arrays, CPU/GC/
    // steal decomposition. Round-4 lesson: this line outgrew the driver's
    // 2000-char tail capture and the round's machine-readable bench
    // signal was lost ("parsed": null) — so the detail goes to a FILE
    // (committed under BENCH/) and to stdout only as the SECOND-TO-LAST
    // line, while the final stdout line is a compact headline that fits
    // the tail capture with room to spare.
    val detail =
      f"""{"metric":"pipeline_e2e_local32","value":${times(32)}%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","n_docs":$BenchDocs,$dps,$cpuJson,"scaling_efficiency_4_to_16":${median(eff416)}%.3f,"scaling_efficiency_8_to_32":${median(eff832)}%.3f,"eff_8_to_32_undisturbed":$eff832Undisturbed%.3f,"n_cycles_8_to_32_degraded":$n832Degraded,"eff_4_to_16_cycles":${arr(eff416All)},"eff_8_to_32_cycles":${arr(eff832All)},"bench_cycles":$cyclesRun,"cycles_used":${used.size},"steal_jiffies_cycles":${cycleSteal.mkString("[", ",", "]")},"steal_reject_threshold":$stealRejectThreshold,"steal_jiffies_local16_clean":${stealClean(16)},"steal_jiffies_local32_clean":${stealClean(32)},"steal_jiffies_local16_all":${stealAll(16)},"steal_jiffies_local32_all":${stealAll(32)}}"""
    // stdout (bare — build.sbt sets StdoutOutput so sbt adds no prefix):
    // detail first, compact headline LAST so a bounded tail capture
    // always ends with one complete parseable JSON line
    println(detail)
    println(headline)
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/last_run.json"), detail + "\n")
    Files.writeString(Paths.get(detailFile), detail + "\n")
  }
}
