package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, desc, lit, rand, when}

import BenchMath._

/** Tests of the benchmark's own arithmetic. Run with
  * `python3 perfbench/build.py test`; exits non-zero on any failure. */
object BenchMathTest {

  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def near(a: Double, b: Double): Unit =
    assert(math.abs(a - b) < 1e-9, s"$a != $b")

  def main(args: Array[String]): Unit = {
    check("covered counts overlapping intervals once") {
      near(covered(Interval(0, 100),
        Seq(Interval(10, 30), Interval(20, 40), Interval(35, 50))), 40)
    }
    check("covered clips to the enclosing interval") {
      near(covered(Interval(10, 20), Seq(Interval(0, 15), Interval(18, 30))), 7)
    }
    check("self time with overlapping children") {
      // children cover [10,50) and [60,70): 50 of the parent's 100
      near(selfTime(Interval(0, 100), Seq(Interval(10, 40), Interval(30, 50),
        Interval(60, 70), Interval(65, 70))), 50)
    }
    check("self time with a nested and a disjoint child") {
      near(selfTime(Interval(0, 10), Seq(Interval(2, 8), Interval(3, 4))), 4)
      near(selfTime(Interval(0, 10), Seq(Interval(20, 30))), 10)
      near(selfTime(Interval(0, 10), Nil), 10)
    }
    check("core idle: span wall x cores minus task time inside the spans") {
      val spans = Seq(Interval(0, 10), Interval(10, 20))
      // one task spans the boundary (counts 4 + 4), one runs outside
      val tasks = Seq(Interval(0, 10), Interval(6, 14), Interval(25, 30))
      near(coreIdle(spans, tasks, cores = 4), 20 * 4 - (10 + 8))
    }
    check("core idle is the whole offer when no task ran") {
      near(coreIdle(Seq(Interval(0, 5)), Nil, cores = 2), 10)
    }
    check("median of odd and even sample counts") {
      near(median(Seq(3.0, 1.0, 2.0)), 2)
      near(median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    check("nearest-rank percentile") {
      val xs = (1 to 10).map(_.toDouble)
      near(percentile(xs, 50), 5)
      near(percentile(xs, 80), 8)
      near(percentile(xs, 100), 10)
      near(percentile(Seq(7.0), 80), 7)
    }
    check("a percentile is reportable only with ten samples beyond it") {
      assert(reportablePercentile(19).isEmpty)
      assert(reportablePercentile(20).contains(50.0))
      assert(reportablePercentile(49).contains(50.0))
      assert(reportablePercentile(50).contains(80.0))
      assert(reportablePercentile(100).contains(90.0))
      assert(reportablePercentile(200).contains(95.0))
      assert(reportablePercentile(1000).contains(99.0))
    }

    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench-tests").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val df = (0 until 200).map(i => (s"https://h${i % 7}/page/$i", i % 3 == 0,
        s"text $i", i % 5, if (i % 2 == 0) "en" else "de"))
        .toDF("url", "keep", "scrubbed_text", "n_redacted", "lang_pred")
      val base = Bench.summarize(df)
      check("digest counts rows and distinct urls") {
        assert(base.rows == 200 && base.distinctUrls == 200, base)
      }
      check("digest is independent of row order and partitioning") {
        assert(Bench.summarize(df.repartition(5).orderBy(desc("url"))) == base)
        assert(Bench.summarize(df.coalesce(1).orderBy(rand(7))) == base)
      }
      check("digest changes when one field of one row changes") {
        val edited = df.withColumn("scrubbed_text",
          when(col("url") === "https://h3/page/10", lit("[REDACTED]"))
            .otherwise(col("scrubbed_text")))
        assert(Bench.summarize(edited).digest != base.digest)
        val swapped = df.withColumn("lang_pred",
          when(col("url") === "https://h0/page/0", lit("fr"))
            .otherwise(col("lang_pred")))
        assert(Bench.summarize(swapped).digest != base.digest)
      }
      check("digest sees a duplicated row that replaces another") {
        val dup = df.filter(col("url") =!= "https://h1/page/1")
          .union(df.filter(col("url") === "https://h2/page/2"))
        val s = Bench.summarize(dup)
        assert(s.rows == 200 && s.distinctUrls == 199 && s.digest != base.digest)
      }
      check("digest of an empty output") {
        assert(Bench.summarize(df.limit(0)).digest == "0:0:0")
      }
    } finally spark.stop()

    if (failures > 0) {
      println(s"$failures test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
