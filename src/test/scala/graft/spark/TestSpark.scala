package graft.spark

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites (build.sbt forks a single
  * test JVM). It writes `file://` through the production [[graft.io.LocalFs]]
  * whatever the suite order. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expr.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.io.LocalFs.install(s)
    s
  }
}
