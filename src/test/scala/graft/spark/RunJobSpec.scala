package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.RunJob
import graft.io.{CheckpointedRun, IcebergStyleTable}
import graft.model.{PageRow, PagesSynth}

/** End-to-end gate for the composed spark-submit entry (graft.RunJob):
  * pages parquet → QualityPipeline → CheckpointedRun → atomic
  * IcebergStyleTable commit, including the kill/resume path and the
  * exactly-once table-commit guard.
  */
class RunJobSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeInput(n: Long): String = {
    val in = tmpDir("runjob_in")
    PagesSynth.pages(spark, n, 4).write.mode("overwrite").parquet(in)
    in
  }

  test("argument parsing: required args enforced, flags mapped") {
    val a = RunJob.parseArgs(Array("--input", "/i", "--output", "/o",
      "--run-id", "r1", "--partitions", "6", "--salt-buckets", "4",
      "--shuffle-partitions", "3", "--compact"))
    assert(a == RunJob.JobArgs("/i", "/o", "r1", 6, 4, 3, compact = true))
    intercept[IllegalArgumentException] {
      RunJob.parseArgs(Array("--input", "/i"))
    }
    Seq("--bogus", "--prebucketed").foreach { flag =>
      val e = intercept[IllegalArgumentException] {
        RunJob.parseArgs(Array("--input", "/i", "--output", "/o",
          "--run-id", "r1", flag, "x"))
      }
      assert(e.getMessage == s"unknown argument: $flag", e.getMessage)
    }
    // a count below 1 is rejected up front, naming its flag
    Seq("--partitions" -> "0", "--partitions" -> "-3",
        "--salt-buckets" -> "0", "--shuffle-partitions" -> "0").foreach {
      case (flag, v) =>
        val e = intercept[IllegalArgumentException] {
          RunJob.parseArgs(Array("--input", "/i", "--output", "/o",
            "--run-id", "r1", flag, v))
        }
        assert(e.getMessage.contains(flag), e.getMessage)
    }
  }

  test("the status line is JSON even when --output holds a quote and a " +
      "backslash: it parses, keeps its key order, and its metrics path " +
      "round-trips") {
    val a = RunJob.parseArgs(Array("--input", "/i", "--output",
      "/jobs/x\"y\\z", "--run-id", "r1"))
    val line = RunJob.statusLine(a,
      RunJob.JobResult(Seq.empty, tableVersion = 3, tableRows = 10L,
        committedThisRun = true))
    assert(line.startsWith("""{"run_id":"r1","partitions_fresh":0,"""),
      line)
    assert(line.contains(""""table_rows":10,"""), line)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.fieldNames.asScala.toSeq == Seq("run_id", "partitions_fresh",
      "partitions_skipped", "table_version", "table_rows",
      "committed_this_run", "metrics"))
    assert(json.get("committed_this_run").asBoolean)
    assert(json.get("metrics").asText ==
      "/jobs/x\"y\\z/work/_progress/run=r1", line)
  }

  test("a run id that is not a plain name is rejected before anything " +
      "is written") {
    Seq("fresh_p4-s1-warmup", "job_w", "smoke1", "c1", "r.2", "A-b_9")
      .foreach { id =>
        assert(RunJob.parseArgs(Array("--input", "/i", "--output", "/o",
          "--run-id", id)).runId == id)
      }
    val in = writeInput(40)
    Seq("a/../b", "x\"y", "..", ".", "", "a b", "run/x").foreach { id =>
      val e = intercept[IllegalArgumentException] {
        RunJob.parseArgs(Array("--input", "/i", "--output", "/o",
          "--run-id", id))
      }
      assert(e.getMessage.contains("--run-id"), e.getMessage)
      // a job built without parseArgs is stopped as well, before
      // CheckpointedRun records anything under the output root
      val out = Paths.get(tmpDir("runjob_out"), "job")
      val e2 = intercept[IllegalArgumentException] {
        RunJob.execute(spark, RunJob.JobArgs(in, out.toString, id,
          partitions = 2, saltBuckets = 4, shufflePartitions = 4))
      }
      assert(e2.getMessage.contains("--run-id"), e2.getMessage)
      assert(!Files.exists(out), s"$out was created for run id '$id'")
    }
  }

  /** The parquet files at any depth under `root`. */
  private def parquetFiles(root: String): Seq[Path] =
    if (!Files.exists(Paths.get(root))) Seq.empty
    else {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }

  /** Every string value, at any nesting depth, of the rows in `files`
    * (read with their schemas merged, so no file's column is dropped). */
  private def stringsIn(files: Seq[Path]): Seq[String] = {
    def strings(v: Any): Iterator[String] = v match {
      case s: String => Iterator(s)
      case r: Row => r.toSeq.iterator.flatMap(strings)
      case xs: Iterable[_] => xs.iterator.flatMap(strings)
      case (a, b) => strings(a) ++ strings(b)
      case _ => Iterator.empty
    }
    if (files.isEmpty) Seq.empty
    else spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.toString): _*).collect().toSeq.flatMap(strings)
  }

  test("privacy: no parquet file under the work or table root holds a " +
      "planted SSN, killed or committed, and the partition outputs are " +
      "reclaimed after the commit") {
    import spark.implicits._
    val ssn = "123-45-6789"
    // the planted doc's url hashes to partition 0, which the killed
    // attempt writes
    val url = spark.range(100)
      .select(concat(lit("https://pii.example/doc/"), col("id")).as("url"))
      .filter(pmod(xxhash64(col("url")), lit(4)) === 0).head().getString(0)
    val text = (1 to 12).map(i =>
      s"the quick brown fox number $i jumps over the lazy dog today.")
      .mkString(" ") + s" my ssn is $ssn, please keep it safe."
    val in = tmpDir("runjob_in")
    PagesSynth.pages(spark, 120, 4)
      .union(Seq(PageRow(url, Timestamp.valueOf("2025-01-01 00:00:00"),
        None, Some(text), "en")).toDF())
      .write.mode("overwrite").parquet(in)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job_p",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    val work = RunJob.workRoot(args)
    def leaks(files: Seq[Path]) = stringsIn(files).filter(_.contains(ssn))

    intercept[RuntimeException] { RunJob.execute(spark, args, failAfter = 2) }
    val (staged, outputs) = parquetFiles(work)
      .partition(_.toString.contains("/_staged/"))
    // the staged input copy holds the SSN, so the scan can see one
    assert(leaks(staged).nonEmpty)
    val killed = stringsIn(outputs)
    assert(killed.contains(url), "the planted doc's partition was not written")
    assert(!killed.exists(_.contains(ssn)))

    val res = RunJob.execute(spark, args)
    assert(res.committedThisRun && res.tableRows == 121)
    val committed = parquetFiles(work) ++ parquetFiles(RunJob.tableRoot(args))
    assert(stringsIn(committed).contains(url))
    assert(leaks(committed).isEmpty)
    assert(!Files.exists(Paths.get(work, "run=job_p")))
    assert(CheckpointedRun.metricsTable(spark, work, "job_p").count() == 4)
  }

  test("a leftover partition output of a committed run is removed by the " +
      "rerun, which commits nothing") {
    val args = RunJob.JobArgs(writeInput(100), tmpDir("runjob_out"), "job_h",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    val res1 = RunJob.execute(spark, args)
    assert(res1.committedThisRun)
    // a kill during the reclamation leaves part of the run dir behind
    val runDir = Paths.get(RunJob.workRoot(args), "run=job_h")
    val leftover = runDir.resolve("partition=0").resolve("part-0.parquet")
    Files.createDirectories(leftover.getParent)
    Files.write(leftover, "left".getBytes(UTF_8))
    val res2 = RunJob.execute(spark, args)
    assert(!res2.committedThisRun)
    assert(IcebergStyleTable.snapshots(RunJob.tableRoot(args)) == Seq(1))
    assert(res2.tableRows == res1.tableRows)
    assert(!Files.exists(runDir))
  }

  test("full job: pipeline output lands in the table exactly once, with " +
      "per-partition metrics") {
    val in = writeInput(300)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job1",
      partitions = 6, saltBuckets = 4, shufflePartitions = 4)
    val res = RunJob.execute(spark, args)
    assert(res.partitions.count(!_.skipped) == 6)
    assert(res.committedThisRun)
    assert(res.tableVersion == 1)
    assert(res.tableRows == 300)

    val table = IcebergStyleTable.read(spark, RunJob.tableRoot(args))
    assert(table.count() == 300)
    assert(table.select(countDistinct("url")).head().getLong(0) == 300)
    assert(table.columns.contains("part_date"))
    assert(table.columns.contains("scrubbed_text"))

    // O4: one metrics manifest per partition, queryable as a table
    val metrics = CheckpointedRun.metricsTable(spark,
      RunJob.workRoot(args), "job1")
    assert(metrics.count() == 6)
    assert(metrics.agg(sum("rows")).head().getLong(0) == 300)
  }

  /** The log events at WARN or above while `body` runs, after a probe
    * WARN with a throwable that the capture must see. */
  private def warnings(body: => Unit): Seq[LogEvent] = {
    val events = new ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("runjob-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    val level = rootLogger.getLevel
    capture.start()
    rootLogger.addAppender(capture, Level.WARN, null)
    rootLogger.setLevel(Level.WARN)
    ctx.updateLoggers()
    try {
      // the capture must see a WARN with a throwable when one is logged
      LogManager.getLogger(getClass).warn("capture probe",
        new RuntimeException("probe"))
      body
    } finally {
      rootLogger.removeAppender(capture.getName)
      rootLogger.setLevel(level)
      ctx.updateLoggers()
      capture.stop()
    }
    val (probe, run) = events.asScala.toSeq
      .partition(_.getMessage.getFormattedMessage == "capture probe")
    assert(probe.size == 1 && probe.head.getThrown != null)
    run
  }

  test("a successful run logs no stack trace at WARN or above, and its " +
      "output has no partition column") {
    val args = RunJob.JobArgs(writeInput(120), tmpDir("runjob_out"), "job_l",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    val run = warnings {
      assert(RunJob.execute(spark, args).committedThisRun)
    }
    val traces = run.filter(e =>
      e.getLevel.isMoreSpecificThan(Level.WARN) && e.getThrown != null)
    assert(traces.isEmpty, traces.map(e =>
      s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}: " +
        e.getThrown).mkString("\n"))
    assert(!IcebergStyleTable.read(spark, RunJob.tableRoot(args))
      .columns.contains("partition"))
  }

  test("the graft_* functions are registered once per session: two runs " +
      "log no warning that a function replaced a registered one") {
    val input = writeInput(60)
    val run = warnings {
      Seq("job_f1", "job_f2").foreach { id =>
        assert(RunJob.execute(spark, RunJob.JobArgs(input,
          tmpDir("runjob_out"), id, partitions = 2, saltBuckets = 4,
          shufflePartitions = 4)).committedThisRun)
      }
    }
    val replaced = run.map(_.getMessage.getFormattedMessage)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }

  test("input may be an Iceberg-style table root: rows resolved through " +
      "the snapshot manifest") {
    val tableIn = tmpDir("runjob_table_in")
    val pages = PagesSynth.pages(spark, 200, 4)
      .withColumn("pd", to_date(col("warc_ts")))
    IcebergStyleTable.append(pages, tableIn, Seq("pd"), "url", 4, 4)
    val args = RunJob.JobArgs(tableIn, tmpDir("runjob_out"), "job_t",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    val res = RunJob.execute(spark, args)
    assert(res.tableRows == 200)
    assert(IcebergStyleTable.read(spark, RunJob.tableRoot(args))
      .select(countDistinct("url")).head().getLong(0) == 200)
  }

  test("--compact: post-commit compaction produces a second snapshot " +
      "with identical rows") {
    val in = writeInput(300)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job_c",
      partitions = 6, saltBuckets = 4, shufflePartitions = 6,
      compact = true)
    val res = RunJob.execute(spark, args)
    // snapshot 1 = the append, snapshot 2 = the compaction rewrite
    assert(res.tableVersion == 2)
    assert(res.tableRows == 300)
    assert(IcebergStyleTable.snapshots(RunJob.tableRoot(args)) == Seq(1, 2))
    val table = IcebergStyleTable.read(spark, RunJob.tableRoot(args))
    assert(table.count() == 300)
    assert(table.select(countDistinct("url")).head().getLong(0) == 300)
  }

  test("a re-submit of a committed run commits nothing and reports its " +
      "own rows: the run_id stamped in the snapshot JSON is the commit " +
      "record") {
    val in = writeInput(200)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job_w",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    val res1 = RunJob.execute(spark, args)
    assert(res1.committedThisRun && res1.tableRows == 200)
    // rerun: must detect the snapshot's run_id, NOT append again
    val res2 = RunJob.execute(spark, args)
    assert(!res2.committedThisRun)
    assert(res2.tableRows == 200) // this run's contribution, not a rescan
    assert(IcebergStyleTable.snapshots(RunJob.tableRoot(args)) == Seq(1))
    assert(IcebergStyleTable.read(spark, RunJob.tableRoot(args))
      .count() == 200)
  }

  test("an unreadable snapshot fails the exactly-once lookup instead of " +
      "reading as another run's: the rerun throws and commits nothing") {
    val in = writeInput(200)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job_u",
      partitions = 4, saltBuckets = 4, shufflePartitions = 4)
    assert(RunJob.execute(spark, args).committedThisRun)
    val table = RunJob.tableRoot(args)
    // snap-1.json cannot be read: a directory takes its name (permission
    // bits would not stop a run as root)
    val snap = Paths.get(table, "metadata", "snap-1.json")
    Files.delete(snap)
    Files.createDirectory(snap)
    intercept[java.io.IOException] {
      IcebergStyleTable.snapshotAddedRows(table, 1)
    }
    intercept[java.io.IOException](RunJob.execute(spark, args))
    assert(IcebergStyleTable.snapshots(table) == Seq(1))
  }

  test("kill/resume: a killed run resumes without recomputation and " +
      "commits the table once") {
    val in = writeInput(240)
    val args = RunJob.JobArgs(in, tmpDir("runjob_out"), "job2",
      partitions = 8, saltBuckets = 4, shufflePartitions = 4)

    // killed mid-run after 3 fresh partitions — no table commit happened
    intercept[RuntimeException] {
      RunJob.execute(spark, args, failAfter = 3)
    }
    assert(CheckpointedRun
      .completedPartitions(RunJob.workRoot(args), "job2").size == 3)
    assert(IcebergStyleTable.currentVersion(RunJob.tableRoot(args)) == 0)

    // resume: finishes the remaining 5, commits the table
    val res = RunJob.execute(spark, args)
    assert(res.partitions.count(_.skipped) == 3)
    assert(res.partitions.count(!_.skipped) == 5)
    assert(res.committedThisRun && res.tableVersion == 1)
    val table = IcebergStyleTable.read(spark, RunJob.tableRoot(args))
    assert(table.count() == 240)
    assert(table.select(countDistinct("url")).head().getLong(0) == 240)

    // re-submitting the finished run is a no-op: all partitions skip and
    // the run_id stamped in snapshot 1 prevents a duplicate snapshot
    val res2 = RunJob.execute(spark, args)
    assert(res2.partitions.forall(_.skipped))
    assert(!res2.committedThisRun)
    assert(res2.tableVersion == 1 && res2.tableRows == 240)
    assert(IcebergStyleTable.snapshots(RunJob.tableRoot(args)) == Seq(1))
  }
}
