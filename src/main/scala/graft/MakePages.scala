package graft

import org.apache.spark.sql.SparkSession

/** Utility main: write a deterministic synthetic pages table
  * `(url, warc_ts, html, text, lang)` — the north-rule input shape — as
  * parquet. Used by the spark-submit smoke test and for generating
  * larger-scale bench/verify inputs.
  *
  * {{{ spark-submit --class graft.MakePages <jar> <outDir> <nDocs> [splits] }}}
  */
object MakePages {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MakePages <outDir> <nDocs> [splits]")
    val out = args(0)
    val n = args(1).toLong
    val splits = if (args.length > 2) args(2).toInt else 64
    val spark = SparkSession.builder()
      .appName(s"graft-make-pages-$n")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.io.LocalFs.install(spark)
    graft.model.PagesSynth.pages(spark, n, splits, validated = false)
      .write.mode("overwrite").parquet(out)
    println(s"""{"pages":$n,"out":"$out"}""")
    spark.stop()
  }
}
