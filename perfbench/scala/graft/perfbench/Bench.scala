package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.RunJob
import graft.core._
import graft.io.{CheckpointedRun, IcebergStyleTable}
import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** The production-path benchmark: `RunJob.execute` at `local[nproc]`, one
  * batch job at a time (a closed loop), over `PagesSynth` pages whose ids
  * are offset by the seed.
  *
  * One invocation: set up (session, input table, reference digest, one
  * untimed warm-up run), then timed runs until `--seconds` have passed,
  * each gated on its output. With `--trace 1` a kernel micro-benchmark and
  * one traced run follow; the traced run calls the layers' public entry
  * points itself, in the order `RunJob.execute` uses on its fresh path, with
  * a [[TaskRecorder]] registered. Results go to `--out`: `result.json`
  * (the one-line result), `report.json`, and for a traced invocation
  * `spans.jsonl` and `self_time.tsv`.
  */
object Bench {

  /** `killAfter`: the run is first killed through execute's `failAfter`
    * hook after that many fresh partitions, then rerun with the same run
    * id. */
  final case class Workload(name: String, partitions: Int,
                            killAfter: Option[Int])

  // fresh_p4: one logical partition per core, so staging, the kernel pass
  // and the commit do the work. resume_p16: the same input and kernel work over 4x the
  // partitions, killed halfway and resumed, so per-partition driver cost
  // and recovery dominate.
  val Workloads: Seq[Workload] = Seq(
    Workload("fresh_p4", 4, None),
    Workload("resume_p16", 16, Some(8)))

  /** Input documents per workload. */
  final val Docs = 8000L
  /** Parquet files of the input table. */
  final val InputFiles = 8
  /** Seed `s` generates page ids `[s * IdStride, s * IdStride + Docs)`. */
  final val IdStride = 1000000L
  /** RunJob's commit arguments. Its defaults (16 and 32) are sized for a
    * 32-core cluster; over the 90 dates PagesSynth stamps they would write
    * ~1.4k files per commit, and the commit's file count, not the
    * documents, would set the time. */
  final val SaltBuckets = 4
  final val ShufflePartitions = 4
  /** Documents in the single-threaded kernel sample. */
  final val KernelSample = 2000
  /** A run whose share of steal jiffies exceeds this is flagged. */
  final val StealFlagShare = 0.05

  final case class Args(workload: Workload, seed: Long, seconds: Int,
                        trace: Boolean, out: Path, golden: Option[Path])

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = Workloads.find(_.name == need("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    require(seed >= 0, "--seed must be >= 0")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    require(Set("0", "1")(need("trace")), "--trace must be 0 or 1")
    Args(w, seed, seconds, need("trace") == "1", Paths.get(need("out")),
      kv.get("golden").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    deleteRecursively(args.out)
    Files.createDirectories(args.out)
    val bench = new Bench(args)
    try bench.runAll()
    finally bench.close()
  }

  // ---- helpers ----

  /** Row count, distinct urls and an order-independent digest of
    * `(url, keep, scrubbed_text, n_redacted, lang_pred)`: the sums of two
    * differently seeded 64-bit row hashes, exact as decimals. */
  final case class OutputSummary(rows: Long, distinctUrls: Long,
                                 digest: String)

  def summarize(df: DataFrame): OutputSummary = {
    val cols = Seq("url", "keep", "scrubbed_text", "n_redacted", "lang_pred")
      .map(col)
    val r = df.agg(
      count(lit(1)),
      countDistinct(col("url")),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")),
      coalesce(sum(xxhash64(lit("graft-digest") +: cols: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    OutputSummary(r.getLong(0), r.getLong(1),
      s"${r.getLong(0)}:${r.getDecimal(2)}:${r.getDecimal(3)}")
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** (steal, total) jiffies from the aggregate line of /proc/stat, or None
    * where it cannot be read. */
  def stealJiffies(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((f(7), f.take(8).sum))
    } catch { case NonFatal(_) => None }
}

/** The outcome of one run: one job, or for a killed workload the killed
  * attempt plus the rerun. */
final case class RunOutcome(label: String, wallS: Double, recoveryS: Double,
                            cpuS: Double, tableBytes: Long,
                            stealJiffies: Long, stealShare: Double,
                            error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def stealFlag: Boolean = stealShare > Bench.StealFlagShare
}

final class Bench(args: Bench.Args) {
  import Bench._

  private val wl = args.workload
  private val cores = Runtime.getRuntime.availableProcessors()
  private val master = s"local[$cores]"
  private val work = args.out.resolve("work")
  private val inputRoot = work.resolve("input").toString
  private val firstId = args.seed * IdStride
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private val runs = mutable.ArrayBuffer.empty[RunOutcome]
  private val problems = mutable.ArrayBuffer.empty[String]
  /** Partition spans of the traced run, for the percentile sample rule. */
  private var tracedPartitions = 0

  private lazy val spark: SparkSession = {
    SparkSession.builder()
      .master(master)
      .appName(s"graft-perfbench-${wl.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  private def timed[A](part: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupParts(part) = (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    deleteRecursively(work)
  }

  private def jobArgs(label: String): RunJob.JobArgs =
    RunJob.JobArgs(input = inputRoot,
      output = work.resolve("jobs").resolve(label).toString,
      runId = s"${wl.name}-s${args.seed}-$label",
      partitions = wl.partitions, saltBuckets = SaltBuckets,
      shufflePartitions = ShufflePartitions)

  private var reference: OutputSummary = _

  def runAll(): Unit = {
    val t0 = System.nanoTime()
    timed("session_s")(spark.sparkContext.setLogLevel("ERROR"))
    timed("input_s") {
      import spark.implicits._
      val pages = spark.range(firstId, firstId + Docs, 1, InputFiles).as[Long]
        .mapPartitions(_.map(id => PagesSynth.generate(id, validated = false)._2))
        .toDF()
      IcebergStyleTable.append(pages, inputRoot, partitionCols = Nil,
        saltCol = "url", saltBuckets = InputFiles,
        shufflePartitions = InputFiles)
    }
    reference = timed("reference_digest_s") {
      graft.expr.GraftFunctions.register(spark)
      summarize(QualityPipeline.apply(IcebergStyleTable.read(spark, inputRoot)))
    }
    checkReference()
    timed("warmup_s")(runs += timedRun("warmup"))
    val setupS = (System.nanoTime() - t0) / 1e9

    val loopStart = System.nanoTime()
    val timedRuns = mutable.ArrayBuffer.empty[RunOutcome]
    while (timedRuns.isEmpty ||
        (System.nanoTime() - loopStart) / 1e9 < args.seconds)
      timedRuns += timedRun(s"t${timedRuns.size + 1}")
    runs ++= timedRuns

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) endToEnd(timedRuns.toSeq, setupS)
      else {
        val kernel = kernelMicro()
        val untracedMedian = BenchMath.median(timedRuns.map(_.wallS).toSeq)
        kernel ++ tracedRun(untracedMedian)
      }
    writeResult(metrics, setupS)
  }

  private def checkReference(): Unit = {
    if (reference.rows != Docs || reference.distinctUrls != Docs)
      problems += s"reference output has ${reference.rows} rows and " +
        s"${reference.distinctUrls} distinct urls, expected $Docs"
    args.golden.foreach { g =>
      val txt = if (Files.exists(g)) new String(Files.readAllBytes(g), UTF_8)
        else { problems += s"golden digest file $g is missing"; "" }
      def field(k: String) = s""""$k"\\s*:\\s*"?([^",}]+)"?""".r
        .findFirstMatchIn(txt).map(_.group(1).trim)
      if (field("seed").contains(args.seed.toString) &&
          field("docs").contains(Docs.toString) &&
          !field("digest").contains(reference.digest))
        problems += s"reference digest ${reference.digest} differs from " +
          s"the golden digest ${field("digest").getOrElse("?")}"
    }
  }

  /** True when `body` stops with the failure CheckpointedRun's `failAfter`
    * hook throws. */
  private def killedBy(body: => Any): Boolean =
    try { body; false }
    catch {
      case e: RuntimeException
          if String.valueOf(e.getMessage).startsWith("injected failure") => true
    }

  /** One run through `RunJob.execute`, gated on its output. The table is
    * deleted afterwards, outside the timed part. */
  private def timedRun(label: String): RunOutcome = {
    val a = jobArgs(label)
    val steal0 = stealJiffies()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    var recoveryS = 0.0
    val runError: Option[String] =
      try {
        wl.killAfter.foreach { k =>
          require(killedBy(RunJob.execute(spark, a, failAfter = k)),
            s"the attempt with failAfter=$k was not killed")
        }
        val t1 = System.nanoTime()
        val res = RunJob.execute(spark, a)
        recoveryS = (System.nanoTime() - t1) / 1e9
        require(res.committedThisRun, "the run did not commit")
        require(res.tableRows == Docs,
          s"the run committed ${res.tableRows} rows, expected $Docs")
        val skipped = res.partitions.count(_.skipped)
        require(skipped == wl.killAfter.getOrElse(0),
          s"the rerun skipped $skipped partitions")
        None
      } catch { case NonFatal(e) => Some(e.toString) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val (steal, share) = (steal0, stealJiffies()) match {
      case (Some((s0, n0)), Some((s1, n1))) =>
        (s1 - s0, if (n1 > n0) (s1 - s0).toDouble / (n1 - n0) else 0.0)
      case _ => (-1L, 0.0)
    }
    val table = RunJob.tableRoot(a)
    val error = runError.orElse(gate(table, a.runId))
    val bytes = if (error.isEmpty) tableBytes(table) else 0L
    deleteRecursively(Paths.get(a.output))
    RunOutcome(label, wallS, recoveryS, cpuS, bytes, steal, share, error)
  }

  /** The output gate: rows and distinct urls equal the input docs, exactly
    * one snapshot carries the run id, and the digest equals the reference. */
  private def gate(table: String, runId: String): Option[String] =
    try {
      val s = summarize(IcebergStyleTable.read(spark, table))
      val stamped = IcebergStyleTable.snapshots(table).count { v =>
        new String(Files.readAllBytes(
          Paths.get(table, "metadata", s"snap-$v.json")), UTF_8)
          .contains(s""""run_id":"$runId"""")
      }
      val miss = Seq(
        (s.rows != Docs) -> s"table rows ${s.rows} != $Docs",
        (s.distinctUrls != Docs) -> s"distinct urls ${s.distinctUrls} != $Docs",
        (stamped != 1) -> s"$stamped snapshots carry run id $runId, expected 1",
        (s.digest != reference.digest) ->
          s"digest ${s.digest} != reference ${reference.digest}")
        .collect { case (true, m) => m }
      if (miss.isEmpty) None else Some(miss.mkString("; "))
    } catch { case NonFatal(e) => Some(s"gate failed: $e") }

  /** Bytes of `files`, named as a table's manifest names them. */
  private def dataBytes(table: String, files: Seq[String]): Long =
    files.map(f => Files.size(Paths.get(table, "data", f))).sum

  private def tableBytes(table: String): Long = dataBytes(table,
    IcebergStyleTable.manifest(table, IcebergStyleTable.currentVersion(table)))

  private def endToEnd(timedRuns: Seq[RunOutcome],
                       setupS: Double): Seq[(String, Double, String)] = {
    val ok = timedRuns.filter(_.ok)
    def med(f: RunOutcome => Double) =
      if (ok.isEmpty) Double.NaN else BenchMath.median(ok.map(f))
    Seq(
      ("docs_per_s", med(r => Docs / r.wallS), "1/s"),
      ("recovery_s", med(_.recoveryS), "s"),
      ("core_s_per_kdoc", med(r => r.cpuS / Docs * 1000), "s"),
      ("table_bytes_per_doc", med(r => r.tableBytes.toDouble / Docs), "B"),
      ("ok_run_ratio", runs.count(_.ok).toDouble / runs.size, "ratio"),
      ("setup_s", setupS, "s"))
  }

  // ---- the single-threaded kernel sample ----

  private def kernelMicro(): Seq[(String, Double, String)] = {
    val rows = (0 until KernelSample).map(i =>
      PagesSynth.generate(firstId + i, validated = false)._2)
    val htmls = rows.flatMap(_.html.map(b => new String(b, UTF_8))).toArray
    val texts = rows.map(r =>
      r.text.getOrElse(HtmlText.extract(new String(r.html.get, UTF_8)))).toArray
    val toks = texts.map(Tokenizer.tokenizeArrays)
    val full = toks.map(_._1)
    val words = toks.map(t =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(t._2))
    val langs = full.map(t => LangId.predict(t)._1)
    var sink = 0L
    // one warm-up pass, then the median of three timed passes
    def usPerDoc(n: Int)(f: Int => Any): Double = {
      val reps = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i).hashCode; i += 1 }
        (System.nanoTime() - t0) / 1e3 / n
      }
      BenchMath.median(reps.drop(1))
    }
    val n = texts.length
    val out = Seq(
      ("core.tokenize_us_per_doc",
        usPerDoc(n)(i => Tokenizer.tokenizeArrays(texts(i)))),
      ("core.pii_scrub_us_per_doc", usPerDoc(n)(i => PiiDetector.extract(full(i)))),
      ("core.langid_us_per_doc", usPerDoc(n)(i => LangId.predict(full(i)))),
      ("core.perplexity_us_per_doc",
        usPerDoc(n)(i => NGramLM.perplexityWords(words(i), langs(i)))),
      ("core.heuristics_us_per_doc",
        usPerDoc(n)(i => Heuristics.evaluateWith(texts(i), words(i), langs(i)))),
      ("core.html_extract_us_per_doc",
        usPerDoc(htmls.length)(i => HtmlText.extract(htmls(i)))),
      ("core.process_us_per_doc", usPerDoc(n)(i => DocProcessor.process(texts(i)))))
    if (sink == 42L) println("") // keeps the kernel results live
    out.map { case (k, v) => (k, v, "us") }
  }

  // ---- the traced run ----

  private def tracedRun(untracedMedianS: Double): Seq[(String, Double, String)] = {
    val a = jobArgs("traced")
    val workRoot = RunJob.workRoot(a)
    val table = RunJob.tableRoot(a)
    val tracer = new Tracer(a.runId)
    val rec = new TaskRecorder
    val heap = new HeapSampler
    var skipped = 0
    var snap: IcebergStyleTable.Snapshot = null
    spark.sparkContext.addSparkListener(rec)
    heap.start()
    val runError =
      try {
        tracer.span("RunJob.execute", -1) { root =>
          graft.expr.GraftFunctions.register(spark)
          val pages = tracer.span("IcebergStyleTable.read", root) { _ =>
            IcebergStyleTable.read(spark, inputRoot)
          }
          def attempt(failAfter: Int): Seq[CheckpointedRun.PartitionResult] = {
            val done = CheckpointedRun.completedPartitions(workRoot, a.runId)
            val fresh = (0 until wl.partitions).filterNot(done).toIndexedSeq
            val calls = mutable.ArrayBuffer.empty[Double]
            val runSpan = tracer.open("CheckpointedRun.run", root,
              Seq("fail_after" -> failAfter))
            val runStart = tracer.spans(runSpan).start
            // each transform call marks one logical partition's start
            val transform = (df: DataFrame) => {
              calls += Trace.nowMs()
              QualityPipeline.apply(df)
            }
            try CheckpointedRun.run(spark, pages, keyCol = "url",
              transform = transform, root = workRoot, runId = a.runId,
              numPartitions = wl.partitions, failAfter = failAfter)
            finally {
              val end = Trace.nowMs()
              tracer.close(runSpan, end)
              tracer.add("CheckpointedRun.stage", runSpan, runStart,
                calls.headOption.getOrElse(end))
              val bounds = calls.toIndexedSeq :+ end
              calls.indices.foreach { i =>
                tracer.add("CheckpointedRun.partition", runSpan, bounds(i),
                  bounds(i + 1), Seq("partition" -> fresh(i)))
              }
            }
          }
          wl.killAfter.foreach { k =>
            require(killedBy(attempt(k)),
              s"the traced attempt with failAfter=$k was not killed")
          }
          skipped = attempt(Int.MaxValue).count(_.skipped)
          // RunJob's exactly-once check before it commits
          require(IcebergStyleTable.findSnapshotWithMeta(table, "run_id",
            a.runId).isEmpty, "the traced run was already committed")
          val out = tracer.span("CheckpointedRun.output", root) { _ =>
            CheckpointedRun.output(spark, workRoot, a.runId)
          }
          snap = tracer.span("IcebergStyleTable.append", root) { _ =>
            IcebergStyleTable.append(out, table, partitionCols = Seq("part_date"),
              saltCol = "url", saltBuckets = a.saltBuckets,
              shufflePartitions = a.shufflePartitions,
              extraMeta = Map("run_id" -> a.runId))
          }
        }
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      finally {
        heap.stopSampling()
        Shim.awaitListenerBus(spark)
        spark.sparkContext.removeSparkListener(rec)
      }
    val error = runError.orElse(gate(table, a.runId))
    val wallS = tracer.spans.head.interval.length / 1e3
    runs += RunOutcome("traced", wallS, 0.0, 0.0, 0L, -1L, 0.0, error)
    val layers = TraceReport(tracer.spans, rec.jobs, rec.tasks, cores)
    tracedPartitions = tracer.spans.count(_.name == "CheckpointedRun.partition")
    val addedBytes = if (snap == null) 0L else dataBytes(table, snap.files)
    layers.writeSpans(args.out.resolve("spans.jsonl"))
    layers.writeSelfTime(args.out.resolve("self_time.tsv"))
    deleteRecursively(Paths.get(a.output))
    layers.metrics(Docs) ++ Seq(
      ("CheckpointedRun.resume.partitions_skipped", skipped.toDouble, "count"),
      ("IcebergStyleTable.append.files_added",
        if (snap == null) 0.0 else snap.files.size.toDouble, "count"),
      ("IcebergStyleTable.append.bytes_added", addedBytes.toDouble, "B"),
      ("jvm.heap_peak_mb", heap.peakBytes / 1048576.0, "MB"),
      ("trace.overhead_s", wallS - untracedMedianS, "s"))
  }

  // ---- output ----

  private def writeResult(metrics: Seq[(String, Double, String)],
                          setupS: Double): Unit = {
    val failed = runs.count(!_.ok)
    val correct = failed == 0 && problems.isEmpty &&
      metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val metricsJson = Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    val result = Json.obj(Seq("correct" -> correct, "attempted" -> runs.size,
      "failed" -> failed, "metrics" -> metricsJson))
    val host = Json.obj(Seq(
      "nproc" -> cores, "master" -> master,
      "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "steal_flag_share" -> StealFlagShare,
      "runs_steal_flagged" -> runs.count(_.stealFlag)))
    val report = Json.obj(Seq(
      "workload" -> wl.name, "partitions" -> wl.partitions,
      "kill_after" -> wl.killAfter.map(_.toLong).getOrElse(-1L),
      "docs" -> Docs, "seed" -> args.seed,
      "first_id" -> firstId, "seconds" -> args.seconds,
      "trace" -> args.trace, "host" -> host,
      "setup_s" -> setupS,
      "setup_parts" -> Json.obj(setupParts.toSeq),
      "reference_digest" -> reference.digest,
      "problems" -> problems.toSeq,
      "timed_runs" -> runs.count(r => r.label.matches("t\\d+")),
      "traced_partitions" -> tracedPartitions,
      "partition_wall_percentile" ->
        BenchMath.reportablePercentile(tracedPartitions),
      "runs" -> runs.toSeq.map(r => Json.obj(Seq(
        "label" -> r.label, "wall_s" -> r.wallS, "recovery_s" -> r.recoveryS,
        "cpu_s" -> r.cpuS, "table_bytes" -> r.tableBytes,
        "steal_jiffies" -> r.stealJiffies, "steal_share" -> r.stealShare,
        "steal_flag" -> r.stealFlag, "error" -> r.error.getOrElse(""))))))
    Files.write(args.out.resolve("report.json"), (report + "\n").getBytes(UTF_8))
    Files.write(args.out.resolve("result.json"), (result + "\n").getBytes(UTF_8))
    println(Json.obj(Seq("host" -> host)))
    (problems ++ runs.flatMap(r => r.error.map(e => s"${r.label}: $e")))
      .foreach(p => System.err.println(s"perfbench: $p"))
  }
}

/** Samples heap use while the traced run is in flight. */
final class HeapSampler extends Thread("perfbench-heap-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakBytes: Long = 0L
  private val mem = ManagementFactory.getMemoryMXBean

  override def run(): Unit =
    while (running) {
      peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }

  def stopSampling(): Unit = { running = false; join() }
}

/** Minimal JSON rendering for the report files. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${render(v)}" }
      .mkString("{", ",", "}"))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def render(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}
