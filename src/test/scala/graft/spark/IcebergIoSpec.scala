package graft.spark

import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.{Callable, ConcurrentHashMap,
  ConcurrentLinkedQueue, CyclicBarrier, Executors}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Heuristics
import graft.io.{CheckpointedRun, IcebergStyleTable}
import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** IO layer gates: Iceberg-style layout + snapshot commit, rebalanced
  * partitioned write, partition pruning, checkpoint/resume with zero
  * recomputation (SURVEY §5.4.6, §7.4, §7.6).
  */
class IcebergIoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The names in directory `first/more...`, sorted. */
  private def names(first: String, more: String*): Seq[String] = {
    val ls = Files.list(Paths.get(first, more: _*))
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }

  test("iceberg-style append: layout, one snapshot json per commit, " +
      "read-back") {
    val root = tmpDir("iceberg")
    val df = QualityPipeline(PagesSynth.pages(spark, 300, 4))
    val snap = IcebergStyleTable.append(df, root,
      Seq("part_date", "host_bucket"), saltCol = "url", saltBuckets = 8,
      shufflePartitions = 4)
    assert(snap.version == 1)
    assert(snap.rowCount == 300)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.contains("part_date=")))
    assert(IcebergStyleTable.currentVersion(root) == 1)
    // one file commits a snapshot: no claim, hint, schema or manifest file
    assert(names(root, "metadata") == Seq("snap-1.json"))

    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == 300)
    // partition columns recovered from the hive layout
    assert(back.columns.contains("part_date") &&
      back.columns.contains("host_bucket"))

    // second snapshot appends, version advances, both snapshots listed
    IcebergStyleTable.append(QualityPipeline(PagesSynth.pages(spark, 100, 2))
      .filter(col("url").endsWith("7")), root,
      Seq("part_date", "host_bucket"), "url", 8, 4)
    assert(IcebergStyleTable.currentVersion(root) == 2)
    assert(IcebergStyleTable.snapshots(root) == Seq(1, 2))
    assert(names(root, "metadata") == Seq("snap-1.json", "snap-2.json"))
    assert(IcebergStyleTable.read(spark, root).count() > 300)
  }

  test("layout and encoding: partition values with a space, ':', '%' and " +
      "'=' round-trip; the manifest lists data/g<n> as it is on disk; " +
      "metadata and progress files carry no .crc sidecar") {
    import spark.implicits._
    val root = tmpDir("encoding")
    val tags = Seq("a b", "c:d", "e%f", "g=h", "plain")
    val df = (0 until 40).map(i => (s"https://h$i.example/p", tags(i % 5)))
      .toDF("url", "tag")
    val snap = IcebergStyleTable.append(df, root, Seq("tag"), "url", 2, 2)
    val data = Paths.get(root, "data")
    val gens = snap.files.map(_.takeWhile(_ != '/')).distinct
    assert(gens.size == 1 && gens.head.startsWith("g1-"), gens)
    val walk = Files.walk(data.resolve(gens.head))
    val onDisk =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => data.relativize(p).toString).toSeq.sorted
      finally walk.close()
    // Spark writes Hive-escaped directory names: ':' as %3A, '%' as %25
    assert(onDisk.exists(_.contains("tag=c%3Ad/")), onDisk)
    assert(onDisk.exists(_.contains("tag=a b/")), onDisk)
    assert(IcebergStyleTable.manifest(root, 1) == onDisk)
    assert(snap.files == onDisk)
    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == 40)
    assert(back.select("tag").distinct().as[String].collect().toSet ==
      tags.toSet)

    val work = tmpDir("encoding_work")
    CheckpointedRun.run(spark, df, "url", (d: DataFrame) => d, work, "e1",
      numPartitions = 2)
    Seq(Paths.get(root, "metadata"),
        Paths.get(work, "_progress", "run=e1")).foreach { dir =>
      val names = Files.list(dir)
      val all = try names.iterator().asScala.map(_.getFileName.toString)
        .toSeq finally names.close()
      assert(all.exists(_.endsWith(".json")), all)
      assert(!all.exists(_.endsWith(".crc")), s"$dir: $all")
    }
  }

  test("the current version advances atomically: a reader polling " +
      "currentVersion through 10 appends sees only committed versions, " +
      "never going back") {
    val root = tmpDir("versionflip")
    val df = spark.range(0, 20).selectExpr("concat('u', id) AS url", "id")
    IcebergStyleTable.append(df, root, Nil, "url", 2, 2)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() =>
      try while (!stop) seen += IcebergStyleTable.currentVersion(root)
      catch { case t: Throwable => failure.set(t) })
    reader.start()
    try {
      (2 to 10).foreach(_ =>
        IcebergStyleTable.append(df, root, Nil, "url", 2, 2))
      IcebergStyleTable.compact(spark, root, Nil)
    } finally { stop = true; reader.join() }
    assert(failure.get == null, String.valueOf(failure.get))
    assert(seen.nonEmpty && seen.head >= 1 && seen.last <= 11)
    assert(seen.zip(seen.drop(1)).forall { case (a, b) => a <= b })
    assert(seen.distinct.size > 1, "the reader overlapped no commit")
    assert(IcebergStyleTable.currentVersion(root) == 11)
    assert(IcebergStyleTable.read(spark, root).count() == 200)
  }

  test("partition pruning reaches the scan (PushedFilters/partition dirs)") {
    val root = tmpDir("prune")
    val df = QualityPipeline(PagesSynth.pages(spark, 300, 4))
    IcebergStyleTable.append(df, root, Seq("part_date", "host_bucket"),
      "url", 8, 4)
    val pruned = IcebergStyleTable.read(spark, root)
      .filter(col("host_bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filters appear as PartitionFilters on the FileScan
    assert(plan.contains("PartitionFilters") &&
      plan.contains("host_bucket"), plan.take(2000))
    assert(pruned.count() ==
      IcebergStyleTable.read(spark, root)
        .collect().count(_.getAs[Int]("host_bucket") == 3))
  }

  test("checkpointed run: kill after k partitions, resume recomputes only the rest") {
    val root = tmpDir("resume")
    val runId = "r1"
    val input = PagesSynth.pages(spark, 400, 4)
    val transform = (df: org.apache.spark.sql.DataFrame) => QualityPipeline(df)

    // killed run: fails after 3 fresh partitions
    intercept[RuntimeException] {
      CheckpointedRun.run(spark, input, "url", transform, root, runId,
        numPartitions = 8, failAfter = 3)
    }
    val done1 = CheckpointedRun.completedPartitions(root, runId)
    assert(done1.size == 3, s"expected 3 completed, got $done1")

    // scan discipline (checked MID-RUN — the staged copy is reclaimed on
    // completion): the source was bucketed ONCE into a staged hive copy;
    // per-partition reads prune to a single _bucket directory
    val staged = Paths.get(root, "_staged", s"run=$runId")
    assert(Files.exists(staged.resolve("_SUCCESS")))
    assert(Files.exists(staged.resolve("_bucket=0")))
    val prunedPlan = spark.read.parquet(staged.toString)
      .filter(col("_bucket") === 3).queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") &&
      prunedPlan.contains("_bucket"), prunedPlan.take(1500))

    // resume: completed partitions are skipped (zero recomputation)
    val results = CheckpointedRun.run(spark, input, "url", transform, root,
      runId, numPartitions = 8)
    assert(results.count(_.skipped) == 3)
    assert(results.count(!_.skipped) == 5)
    assert(CheckpointedRun.completedPartitions(root, runId).size == 8)

    // resumed output equals an uninterrupted run, byte-for-byte
    val rootB = tmpDir("resumeB")
    CheckpointedRun.run(spark, input, "url", transform, rootB, "r2",
      numPartitions = 8)
    val a = CheckpointedRun.output(spark, root, runId)
      .select("url", "scrubbed_text", "keep", "perplexity")
    val b = CheckpointedRun.output(spark, rootB, "r2")
      .select("url", "scrubbed_text", "keep", "perplexity")
    assert(a.count() == 400)
    assert(a.exceptAll(b).count() == 0L)
    assert(b.exceptAll(a).count() == 0L)

    // metrics table: one manifest row per partition with stage counters
    val metrics = CheckpointedRun.metricsTable(spark, root, runId)
    assert(metrics.count() == 8)
    assert(metrics.columns.contains("stages"))
    assert(metrics.agg(sum("rows")).head().getLong(0) == 400L)

    // storage discipline: the staged input copy is reclaimed once every
    // partition completed (it would otherwise double storage per finished
    // run), and a rerun after cleanup is an all-skip no-op that never
    // re-reads (or rebuilds) the staged path
    assert(!Files.exists(staged),
      "staged copy must be reclaimed after the run completes")
    val rerun = CheckpointedRun.run(spark, input, "url", transform, root,
      runId, numPartitions = 8)
    assert(rerun.forall(_.skipped))
    assert(!Files.exists(staged))
  }

  /** (partition -> rows, n_keep, and the four stage counters) as recorded
    * in the run's manifests. */
  private def manifestCounters(root: String, runId: String) =
    CheckpointedRun.metricsTable(spark, root, runId).select(
      col("partition"), col("rows"), col("n_keep"),
      col("stages.scrub.n_redacted"), col("stages.langid.n_low_conf"),
      col("stages.perplexity.n_high"), col("stages.heuristics.n_fired"))
      .collect().map(r => r.getLong(0).toInt -> (1 to 6).map(r.getLong))
      .toMap

  test("partition manifests: counters equal a direct count over each " +
      "partition's output, empty partitions included") {
    val root = tmpDir("counters")
    // 6 docs over 8 logical partitions: at least two are empty
    val res = CheckpointedRun.run(spark, PagesSynth.pages(spark, 6, 2),
      "url", (df: DataFrame) => QualityPipeline(df), root, "c1",
      numPartitions = 8)
    assert(res.count(_.rows == 0L) >= 2)
    val got = manifestCounters(root, "c1")
    assert(got.keySet == (0 until 8).toSet)
    got.foreach { case (k, counters) =>
      val rows = spark.read.parquet(s"$root/run=c1/partition=$k").collect()
        .toSeq
      def nonNull(r: Row, c: String) = !r.isNullAt(r.fieldIndex(c))
      def n(p: Row => Boolean): Long = rows.count(p).toLong
      val want = Seq(
        rows.size.toLong,
        n(r => nonNull(r, "keep") && r.getAs[Boolean]("keep")),
        rows.filter(nonNull(_, "n_redacted"))
          .map(_.getAs[Number]("n_redacted").longValue).sum,
        n(r => nonNull(r, "lang_conf") &&
          r.getAs[Double]("lang_conf") < Heuristics.LangConfMin),
        n(r => nonNull(r, "perplexity") &&
          r.getAs[Double]("perplexity") > Heuristics.PerplexityMax),
        rows.filter(nonNull(_, "rule_lineage"))
          .map(_.getAs[Seq[Row]]("rule_lineage").count(rule =>
            !rule.isNullAt(rule.fieldIndex("fired")) &&
              rule.getAs[Boolean]("fired")).toLong).sum)
      assert(counters == want, s"partition $k")
    }
    assert(got.values.map(_.head).sum == 6L)
  }

  test("partition manifests: a non-pipeline transform records its rows " +
      "and zero quality counters") {
    val root = tmpDir("identity")
    CheckpointedRun.run(spark, PagesSynth.pages(spark, 40, 2), "url",
      (df: DataFrame) => df, root, "i1", numPartitions = 4)
    val got = manifestCounters(root, "i1")
    assert(got.size == 4)
    assert(got.values.map(_.head).sum == 40L)
    assert(got.values.forall(_.tail.forall(_ == 0L)), got)
  }

  test("partition manifests: only partition=<k>.json with k below the " +
      "run's partition count names a manifest: stray names in the progress " +
      "dir are ignored by completedPartitions, run and metricsTable") {
    val root = tmpDir("strays")
    val input = PagesSynth.pages(spark, 40, 2)
    val identity = (df: DataFrame) => df
    // killed before its last partition: 0..6 are done, 7 is missing
    intercept[RuntimeException] {
      CheckpointedRun.run(spark, input, "url", identity, root, "s1",
        numPartitions = 8, failAfter = 7)
    }
    val progress = Paths.get(root, "_progress", "run=s1")
    val manifest0 = Files.readAllBytes(progress.resolve("partition=0.json"))
    Seq("partition=1.bak.json", "partition=99.json").foreach(n =>
      Files.write(progress.resolve(n), manifest0))
    assert(CheckpointedRun.completedPartitions(root, "s1") == (0 to 6).toSet)
    assert(CheckpointedRun.metricsTable(spark, root, "s1")
      .select("partition").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 6L))
    // eight manifest-like names for eight partitions: partition 7 still runs
    val res = CheckpointedRun.run(spark, input, "url", identity, root, "s1",
      numPartitions = 8)
    assert(res.filterNot(_.skipped).map(_.partition) == Seq(7))
    assert(CheckpointedRun.completedPartitions(root, "s1") == (0 to 7).toSet)
    assert(CheckpointedRun.metricsTable(spark, root, "s1")
      .agg(sum("rows")).head().getLong(0) == 40L)
  }

  test("partition manifests: heuristics_n_fired counts the rules whose " +
      "fired is true, as filter(rule_lineage, r -> r.fired) does, over " +
      "null lineages, null rules and null flags") {
    val root = tmpDir("fired")
    val rule = "STRUCT<rule: STRING, fired: BOOLEAN>"
    val lineage = expr(s"""CASE pmod(xxhash64(url), 3)
      WHEN 0 THEN CAST(NULL AS ARRAY<$rule>)
      WHEN 1 THEN CAST(array() AS ARRAY<$rule>)
      ELSE array(named_struct('rule', 'a', 'fired', true), NULL,
        named_struct('rule', 'b', 'fired', CAST(NULL AS BOOLEAN)),
        named_struct('rule', 'c', 'fired', false),
        named_struct('rule', 'd', 'fired', true)) END""")
    CheckpointedRun.run(spark, PagesSynth.pages(spark, 60, 2), "url",
      (df: DataFrame) => df.select(col("url"), lineage.as("rule_lineage")),
      root, "f1", numPartitions = 2)
    val out = CheckpointedRun.output(spark, root, "f1")
    val want = out.selectExpr(
      "coalesce(sum(size(filter(rule_lineage, r -> r.fired))), 0)")
      .head().getLong(0)
    assert(want == 2L * out.filter(pmod(xxhash64(col("url")), lit(3)) === 2)
      .count())
    assert(manifestCounters(root, "f1").values.map(_(5)).sum == want)
  }

  test("checkpointed run: the partition write's executed plan holds no " +
      "lambdafunction (no interpreted higher-order function)") {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CheckpointedRun.run(spark, PagesSynth.pages(spark, 40, 2), "url",
        (df: DataFrame) => QualityPipeline(df), tmpDir("nolambda"), "l1",
        numPartitions = 2)
      Shim.awaitListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    // the partition writes are the plans that carry the manifest counters
    val writes = plans.asScala.filter(_.contains("heuristics_n_fired")).toSeq
    assert(writes.size == 2, plans.asScala.mkString("\n\n"))
    writes.foreach(p => assert(!p.contains("lambdafunction"), p))
  }

  test("checkpointed run: exactly one Spark job per fresh partition — the " +
      "counters come from the write itself, not a re-read") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // jobs seen when the first partition starts (staging excluded)
    @volatile var atFirst = -1
    val transform = (df: DataFrame) => {
      if (atFirst < 0) {
        Shim.awaitListenerBus(spark)
        atFirst = jobs.get()
      }
      QualityPipeline(df)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = CheckpointedRun.run(spark, PagesSynth.pages(spark, 200, 4),
        "url", transform, tmpDir("jobs"), "j1", numPartitions = 4)
      Shim.awaitListenerBus(spark)
      assert(res.count(!_.skipped) == 4)
      assert(atFirst >= 0 && jobs.get() - atFirst == 4,
        s"${jobs.get() - atFirst} jobs for 4 fresh partitions")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `n` synthetic pages written as parquet and read back: an input
    * whose scan runs no kernel and has a size estimate. */
  private def parquetPages(n: Long): DataFrame = {
    val in = tmpDir("pages_in")
    PagesSynth.pages(spark, n, 4).write.mode("overwrite").parquet(in)
    spark.read.parquet(in)
  }

  test("checkpointed run: partition jobs overlap, and each manifest's " +
      "cpu_sec is that partition's own share of the kernel time") {
    val input = parquetPages(400)
    val starts = new ConcurrentHashMap[Int, java.lang.Long]()
    val ends = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    // jobs started before the first transform call are the staging copy
    @volatile var stagingJobs: Option[Set[Int]] = None
    // each partition's built frame, in partition order (a fresh run calls
    // transform once per partition, in order)
    val built = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val transform = (df: DataFrame) => {
      if (stagingJobs.isEmpty) {
        Shim.awaitListenerBus(spark)
        stagingJobs = Some(starts.keySet.asScala.toSet)
      }
      val out = QualityPipeline(df)
      built += out
      out
    }
    val root = tmpDir("overlap")
    spark.sparkContext.addSparkListener(listener)
    try {
      CheckpointedRun.run(spark, input, "url", transform, root, "o1",
        numPartitions = 4)
      Shim.awaitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)

    val jobs = starts.keySet.asScala.toSeq.filterNot(stagingJobs.get)
      .map(j => (starts.get(j).longValue, ends.get(j).longValue))
    assert(jobs.size == 4, jobs)
    jobs.foreach { case (s0, e0) =>
      assert(jobs.count { case (s1, e1) => s0 < e1 && s1 < e0 } > 1,
        s"job [$s0, $e0] overlaps no other partition job: $jobs")
    }

    val stageCols = Seq("tokenize" -> "tokenize", "pii_scrub" -> "scrub",
      "langid" -> "langid", "perplexity" -> "perplexity",
      "heuristics" -> "heuristics")
    val manifests = CheckpointedRun.metricsTable(spark, root, "o1")
      .select(col("partition") +: col("rows") +: stageCols.map {
        case (_, m) => col(s"stages.$m.cpu_sec") }: _*)
      .orderBy("partition").collect()
    assert(manifests.length == 4)
    manifests.filter(_.getLong(1) > 0).foreach { r =>
      assert((2 until 2 + stageCols.size).forall(r.getDouble(_) > 0.0), r)
    }
    // exact witness: the documents charged to each partition's own plan
    // are that partition's rows, and its manifest's cpu_sec are that
    // plan's nanos
    assert(built.size == 4)
    val charged = built.map(graft.expr.PageProcess.stageTimes).toSeq
    manifests.zip(charged).foreach { case (r, (nanos, docs)) =>
      assert(docs == r.getLong(1), s"partition ${r.getLong(0)}: $docs docs " +
        s"charged, ${r.getLong(1)} rows")
      stageCols.zipWithIndex.foreach { case ((stage, _), i) =>
        assert(r.getDouble(i + 2) == nanos(stage) / 1e9,
          s"partition ${r.getLong(0)} $stage: ${r.getDouble(i + 2)} s, " +
            s"plan ${nanos(stage) / 1e9} s")
      }
    }
    assert(manifests.map(_.getLong(1)).sum == 400L)
    assert(charged.map(_._2).sum == 400L)
  }

  test("checkpointed run: a failing partition's own error is rethrown, " +
      "no job outlives the run, and a rerun computes only the missing " +
      "partitions") {
    val input = parquetPages(200)
    val bucket = pmod(xxhash64(col("url")), lit(8))
    val badK = 0
    val badUrl = input.filter(bucket === badK).select(min("url")).head()
      .getString(0)
    // the other partitions are slowed down, so some are still running
    // when the bad one fails
    val slow = udf((u: String) => { Thread.sleep(5); u })
    val failing = (df: DataFrame) => QualityPipeline(df)
      .withColumn("url",
        when(col("url") === badUrl, raise_error(lit("planted failure")))
          .when(bucket === badK, col("url"))
          .otherwise(slow(col("url"))))
    val root = tmpDir("fail")
    val e = intercept[Exception] {
      CheckpointedRun.run(spark, input, "url", failing, root, "f1",
        numPartitions = 8)
    }
    Shim.awaitListenerBus(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted failure")),
      e)
    val done = CheckpointedRun.completedPartitions(root, "f1")
    assert(!done.contains(badK), s"partition $badK failed but has a manifest")

    val res = CheckpointedRun.run(spark, input, "url",
      (df: DataFrame) => QualityPipeline(df), root, "f1", numPartitions = 8)
    assert(res.filterNot(_.skipped).map(_.partition).toSet ==
      (0 until 8).toSet -- done)
    assert(CheckpointedRun.output(spark, root, "f1").count() == 200L)
  }

  test("staging layout: a small parquet input stages one file per bucket; " +
      "an input with no size estimate stages up to StagedSubsplits; both " +
      "give the same output") {
    val parquetIn = parquetPages(300)
    val rddIn = spark.createDataFrame(parquetIn.rdd, parquetIn.schema)
    assert(rddIn.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(Long.MaxValue))
    /** Data files per `_bucket=<k>` directory of a run stopped right
      * after staging, then the completed run's output. */
    def stage(input: DataFrame, runId: String): (Seq[Int], DataFrame) = {
      val root = tmpDir("staging")
      val e = intercept[RuntimeException] {
        CheckpointedRun.run(spark, input, "url",
          (df: DataFrame) => QualityPipeline(df), root, runId,
          numPartitions = 4, failAfter = 0)
      }
      assert(e.getMessage == "injected failure before partition 0")
      val files = (0 until 4).map { k =>
        val dir = Paths.get(root, "_staged", s"run=$runId", s"_bucket=$k")
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
        finally s.close()
      }
      CheckpointedRun.run(spark, input, "url",
        (df: DataFrame) => QualityPipeline(df), root, runId,
        numPartitions = 4)
      (files, CheckpointedRun.output(spark, root, runId)
        .select("url", "scrubbed_text", "keep", "perplexity"))
    }
    val (small, a) = stage(parquetIn, "s1")
    assert(small == Seq(1, 1, 1, 1), small)
    val (unsized, b) = stage(rddIn, "s2")
    assert(unsized.forall(n => n >= 1 && n <= CheckpointedRun.StagedSubsplits)
      && unsized.exists(_ > 1), unsized)
    assert(a.count() == 300L)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("staging write: every bucket has its own reducer, so every task of " +
      "the write stage writes rows (P = 4 and P = 16)") {
    val input = parquetPages(400)
    Seq(4, 16).foreach { p =>
      // (stage, records written) of each result task the run starts
      val written = new ConcurrentLinkedQueue[(Int, Long)]()
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask")
            written.add(e.stageId -> e.taskMetrics.outputMetrics.recordsWritten)
      }
      Shim.awaitListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        // failAfter = 0 stops the run right after staging
        val e = intercept[RuntimeException] {
          CheckpointedRun.run(spark, input, "url", (df: DataFrame) => df,
            tmpDir("staging_balance"), s"b$p", numPartitions = p,
            failAfter = 0)
        }
        assert(e.getMessage == "injected failure before partition 0")
        Shim.awaitListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      val tasks = written.asScala.toSeq
      assert(tasks.map(_._1).distinct.size == 1, tasks)
      assert(tasks.size == p, tasks)
      assert(tasks.forall(_._2 > 0),
        s"records written by each staging task at P=$p: ${tasks.map(_._2)}")
    }
  }

  test("checkpointed run: numPartitions below 1 is rejected before it is " +
      "recorded, so the run id stays usable") {
    val root = tmpDir("badparts")
    val input = PagesSynth.pages(spark, 20, 2)
    Seq(0, -3).foreach { p =>
      intercept[IllegalArgumentException] {
        CheckpointedRun.run(spark, input, "url", (df: DataFrame) => df,
          root, "b1", numPartitions = p)
      }
      assert(!Files.exists(
        Paths.get(root, "_progress", "run=b1", "_num_partitions")))
    }
    val res = CheckpointedRun.run(spark, input, "url", (df: DataFrame) => df,
      root, "b1", numPartitions = 2)
    assert(res.map(_.rows).sum == 20L)
  }

  test("concurrent committers: the second writer of the same version fails " +
      "loudly instead of silently discarding the first") {
    val root = tmpDir("cas")
    val df = spark.range(0, 20).selectExpr("concat('u', id) AS url", "id")
    // 4 committers append 3 times each to one table: every append either
    // commits or throws, having lost its version to another committer
    val threads = 4
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    val outcomes =
      try (0 until threads).map { t =>
        pool.submit(new Callable[Seq[Option[IcebergStyleTable.Snapshot]]] {
          override def call(): Seq[Option[IcebergStyleTable.Snapshot]] = {
            barrier.await()
            (0 until 3).map { i =>
              try Some(IcebergStyleTable.append(
                df.withColumn("id", col("id") + (t * 3 + i) * 100), root, Nil,
                "url", 2, 2))
              catch { case _: ConcurrentModificationException => None }
            }
          }
        })
      }.flatMap(_.get())
      finally pool.shutdown()
    val won = outcomes.flatten
    assert(won.map(_.version).sorted == (1 to won.size), outcomes)
    val v = IcebergStyleTable.currentVersion(root)
    assert(v == won.size)
    assert(IcebergStyleTable.read(spark, root).count() ==
      won.map(_.rowCount).sum)
    val live = IcebergStyleTable.manifest(root, v)
    assert(live.forall(f => Files.isRegularFile(Paths.get(root, "data", f))))
    // every losing attempt deleted its own generation
    assert(names(root, "data") == live.map(_.takeWhile(_ != '/')).distinct
      .sorted)
  }

  test("only snap-<n>.json names a snapshot: stray names and a leftover " +
      "publish temp file in metadata/ are ignored") {
    val root = tmpDir("snapnames")
    val df = spark.range(0, 20).selectExpr("concat('u', id) AS url", "id")
    IcebergStyleTable.append(df, root, Nil, "url", 2, 2)
    Seq("snap-2.json.bak", "snap-x.json", "snap-03.json",
        "snap-99999999999.json", ".snap-2.json.0b1c.tmp")
      .foreach(n => Files.write(Paths.get(root, "metadata", n),
        "{}".getBytes("UTF-8")))
    assert(IcebergStyleTable.snapshots(root) == Seq(1))
    assert(IcebergStyleTable.currentVersion(root) == 1)
    assert(IcebergStyleTable.findSnapshotWithMeta(root, "run_id", "r")
      .isEmpty)
    assert(IcebergStyleTable.read(spark, root).count() == 20)
    assert(IcebergStyleTable.append(df, root, Nil, "url", 2, 2).version == 2)
  }

  test("caller metadata holding a tab is quoted as JSON: the table reads, " +
      "its snapshot is found by that value, and the next append commits") {
    val root = tmpDir("metaquote")
    val df = spark.range(0, 20).selectExpr("concat('u', id) AS url", "id")
    IcebergStyleTable.append(df, root, Nil, "url", 2, 2,
      extraMeta = Map("note" -> "a\tb"))
    assert(IcebergStyleTable.read(spark, root).count() == 20)
    assert(IcebergStyleTable.findSnapshotWithMeta(root, "note", "a\tb")
      .contains(1))
    assert(IcebergStyleTable.append(df, root, Nil, "url", 2, 2).version == 2)
  }

  test("a committer killed between its data write and its publish leaves " +
      "an orphan generation that does not block the next commit") {
    val root = tmpDir("killed")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    // what a SIGKILLed committer of version 2 leaves: its data files and
    // the temp file of a snapshot publish that was never renamed
    val orphan = Paths.get(root, "data", "g2-dead", "part_date=2024-01-01")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000.zstd.parquet"), Array[Byte](1, 2))
    Files.write(Paths.get(root, "metadata", ".snap-2.json.dead.tmp"),
      """{"version":2""".getBytes("UTF-8"))
    assert(IcebergStyleTable.currentVersion(root) == 1)
    val snap = IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    assert(snap.version == 2)
    assert(IcebergStyleTable.currentVersion(root) == 2)
    assert(!IcebergStyleTable.manifest(root, 2)
      .exists(_.startsWith("g2-dead/")))
    assert(IcebergStyleTable.read(spark, root).count() == 200)
  }

  test("a FAILED commit deletes its generation — the table is not wedged " +
      "for later committers") {
    val root = tmpDir("casfail")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    // a commit whose Spark write blows up mid-flight (runtime error)
    val poisoned = df.withColumn("boom",
      expr("assert_true(part_date IS NULL)"))
    intercept[Exception] {
      IcebergStyleTable.append(poisoned, root, Seq("part_date"), "url", 8, 2)
    }
    assert(!names(root, "data").exists(_.startsWith("g2-")))
    assert(IcebergStyleTable.currentVersion(root) == 1)
    val snap = IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    assert(snap.version == 2)
    assert(IcebergStyleTable.read(spark, root).count() == 200)
  }

  test("compaction: fewer files, same rows, atomic snapshot flip") {
    val root = tmpDir("compact")
    val df = QualityPipeline(PagesSynth.pages(spark, 400, 4))
    // an append writes one file per date: two appends leave two files on
    // most dates for the compaction to merge
    val half = pmod(xxhash64(col("url")), lit(2)) === 0
    IcebergStyleTable.append(df.filter(half), root, Seq("part_date"), "url",
      8, 4)
    val snap1 = IcebergStyleTable.append(df.filter(!half), root,
      Seq("part_date"), "url", 8, 4)
    val before = IcebergStyleTable.manifest(root, snap1.version).size
    val snap2 = IcebergStyleTable.compact(spark, root, Seq("part_date"))
    assert(snap2.version == snap1.version + 1)
    assert(snap2.rowCount == 400)
    assert(snap2.files.size < before,
      s"compaction ${before} -> ${snap2.files.size}")
    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == 400)
    assert(back.select(countDistinct("url")).head().getLong(0) == 400)
  }

  test("partitioned append bounds skew: the hottest host's rows land in " +
      "more than one file") {
    val root = tmpDir("salt")
    val df = QualityPipeline(PagesSynth.pages(spark, 2000, 8))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url",
      saltBuckets = 16, shufflePartitions = 8)
    // hottest Zipf host spreads across >= 2 files within its hottest date
    val back = IcebergStyleTable.read(spark, root)
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)", 1))
      .withColumn("file", input_file_name())
    val hot = back.groupBy("host").count().orderBy(desc("count"))
      .head().getString(0)
    val files = back.filter(col("host") === hot)
      .select(countDistinct("file")).head().getLong(0)
    assert(files >= 2, s"hot host $hot landed in $files file(s)")
  }

  /** `body` with the session conf `key` set to `value`, then restored. */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Codecs of every column chunk of the table files `files`. */
  private def codecs(root: String, files: Seq[String]): Set[String] =
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(s"$root/data/$f"), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }.toSet

  test("rebalanced append: one zstd file per part_date, and the table " +
      "reads back equal to the input") {
    val root = tmpDir("rebalance")
    val df = QualityPipeline(PagesSynth.pages(spark, 400, 4))
    val snap = IcebergStyleTable.append(df, root, Seq("part_date"), "url",
      8, 4)
    val dates = df.select("part_date").distinct().count()
    assert(snap.files.size == dates, snap.files.mkString("\n"))
    assert(snap.files.map(_.split('/')(1)).distinct.size == dates)
    assert(codecs(root, snap.files) == Set("ZSTD"))
    val back = IcebergStyleTable.read(spark, root)
      .select(df.columns.map(col): _*)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("rebalanced append: a hot part_date is split over several files " +
      "by AQE's skew rule, and every row reads back once") {
    val root = tmpDir("hotdate")
    val n = 4000L
    // 80% of the rows on one date; payloads that shuffle compression
    // cannot shrink to nothing
    val df = spark.range(0, n, 1, 8).select(
      concat(lit("https://h/"), col("id").cast("string")).as("url"),
      when(col("id") % 5 =!= 0, lit("2024-01-01").cast("date"))
        .otherwise(date_add(lit("2024-02-01").cast("date"),
          (col("id") % 40).cast("int"))).as("part_date"),
      concat((1 to 8).map(i =>
        sha2(concat(col("id").cast("string"), lit(s"#$i")), 256)): _*)
        .as("payload"))
    // 64 shuffle partitions for 41 dates: the hot date is (nearly) alone
    // in its partition, which is then far above the advisory size
    val snap = withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "64k") {
      IcebergStyleTable.append(df, root, Seq("part_date"), "url",
        saltBuckets = 4, shufflePartitions = 64)
    }
    val hotFiles = snap.files.count(_.contains("/part_date=2024-01-01/"))
    assert(hotFiles >= 2, snap.files.mkString("\n"))
    assert(snap.rowCount == n)
    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == n)
    assert(back.select(countDistinct("url")).head().getLong(0) == n)
  }

  test("a partitioned append with AQE or its rebalance skew rule off " +
      "throws before it claims a version") {
    val root = tmpDir("noaqe")
    val df = spark.range(20).select(col("id").cast("string").as("url"),
      (col("id") % 3).as("part"))
    IcebergStyleTable.append(df, root, Seq("part"), "url", 4, 4)
    IcebergStyleTable.RebalanceConfs.foreach { key =>
      val e = withConf(key, "false") {
        intercept[IllegalArgumentException] {
          IcebergStyleTable.append(df, root, Seq("part"), "url", 4, 4)
        }
      }
      IcebergStyleTable.RebalanceConfs.foreach(k =>
        assert(e.getMessage.contains(k), e.getMessage))
      assert(IcebergStyleTable.currentVersion(root) == 1)
      assert(!names(root, "data").exists(_.startsWith("g2-")))
    }
    // an unpartitioned append keeps its salt spread and needs neither
    withConf(IcebergStyleTable.RebalanceConfs.head, "false") {
      assert(IcebergStyleTable.append(df, tmpDir("noaqe_flat"), Nil, "url",
        4, 4).files.size <= 4)
    }
  }
  test("a read runs no Spark job: each generation is read with the schema " +
      "its commit recorded, equal to the footer-inferred one") {
    val root = tmpDir("schema")
    // three dates, so a generation is three files (a read of more paths
    // than the parallel-discovery threshold lists them in a job)
    val df = QualityPipeline(PagesSynth.pages(spark, 200, 4))
      .withColumn("part_date", date_add(lit("2024-01-01").cast("date"),
        pmod(xxhash64(col("url")), lit(3)).cast("int")))
    val half = pmod(xxhash64(col("url")), lit(2)) === 0
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    /** The footer-inferred schema of the live files, generation by
      * generation, as a read without recorded schemas sees them. */
    def inferred(): org.apache.spark.sql.types.StructType =
      IcebergStyleTable.manifest(root, IcebergStyleTable.currentVersion(root))
        .groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
        .map { case (g, fs) =>
          spark.read.option("basePath", s"$root/data/$g")
            .parquet(fs.map(f => s"$root/data/$f"): _*)
        }.reduce(_ unionByName _).schema
    def readChecked(): Unit = {
      Shim.awaitListenerBus(spark)
      val before = jobs.get()
      val back = IcebergStyleTable.read(spark, root)
      Shim.awaitListenerBus(spark)
      assert(jobs.get() == before, s"${jobs.get() - before} job(s) in read")
      assert(back.schema == inferred(),
        s"${back.schema.treeString}\nvs\n${inferred().treeString}")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IcebergStyleTable.append(df.filter(half), root, Seq("part_date"),
        "url", 8, 4)
      readChecked()
      IcebergStyleTable.append(df.filter(!half), root, Seq("part_date"),
        "url", 8, 4)
      readChecked()
      IcebergStyleTable.compact(spark, root, Seq("part_date"))
      readChecked()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(IcebergStyleTable.read(spark, root).count() == 200)
  }
}
