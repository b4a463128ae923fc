package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.StageTimes
import graft.expr.GraftFunctions.{extract_text, html_text_safe, is_blank_text}
import graft.expr.PageProcess
import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** End-to-end pipeline gates (SURVEY §5.4.5): keep/drop F1 >= 0.99 vs the
  * planted intent labels, byte-identical scrubbed text across
  * partitionings, html-extract branch, planted-PII accounting.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val N = 1500L

  private lazy val out = QualityPipeline(PagesSynth.pages(spark, N, 8))
    .withColumn("id", regexp_extract(col("url"), "/page/(\\d+)$", 1)
      .cast("long"))
    .cache()
  private lazy val truths = PagesSynth.truths(spark, N, 8)

  /** `pages` joined by url with the text the pipeline scores, which its
    * output no longer carries: the P1 route (blank or missing text with
    * html → `graft_html_text_safe`), then `graft_extract_text`'s
    * canonical rebuild. */
  private def withExtracted(pages: DataFrame, out: DataFrame): DataFrame = {
    val routed = when((col("text").isNull || is_blank_text(col("text"))) &&
      col("html").isNotNull, html_text_safe(col("html")).getField("text"))
      .otherwise(col("text"))
    out.join(pages.select(col("url"),
      extract_text(routed).as("extracted_text")), "url")
  }

  test("keep/drop F1 >= 0.99 vs planted labels (hard gate)") {
    val j = out.join(truths, "id")
    val agg = j.agg(
      sum(when(col("keep") && col("expectedKeep"), 1L).otherwise(0L)),
      sum(when(col("keep") && !col("expectedKeep"), 1L).otherwise(0L)),
      sum(when(!col("keep") && col("expectedKeep"), 1L).otherwise(0L)))
      .collect()(0)
    val (tp, fp, fn) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val p = tp.toDouble / (tp + fp)
    val r = tp.toDouble / (tp + fn)
    val f1 = 2 * p * r / (p + r)
    assert(f1 >= 0.99, s"F1=$f1 (tp=$tp fp=$fp fn=$fn)")
    assert(f1 == 1.0, s"expected exact 1.0 on validated labels, got $f1")
  }

  test("every planted defect class is dropped; clean docs are kept") {
    val j = out.join(truths, "id")
    val byDefect = j.groupBy("defect")
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    byDefect.foreach { case (d, (n, kept)) =>
      if (d == "none") assert(kept == n, s"clean docs dropped: $kept/$n")
      else assert(kept == 0L, s"defect $d kept $kept/$n")
    }
  }

  test("clean docs: pii match count equals planted count; scrub redacts") {
    val j = out.join(truths, "id").filter(col("defect") === "none")
    val bad = j.filter(size(col("pii_matches")) =!= col("nPii")).count()
    assert(bad == 0L)
    // every doc with planted PII has redacted tokens and a changed text
    val withPii = j.filter(col("nPii") > 0)
    assert(withPii.filter(col("n_redacted") === 0).count() == 0L)
    assert(withPii.filter(!col("scrubbed_text").contains("[PII:")).count() == 0L)
    // scrubbed text never leaks a planted SSN-shaped string
    assert(out.filter(col("scrubbed_text").rlike("\\d{3}-\\d{2}-\\d{4}"))
      .count() == 0L)
  }

  test("byte-identical output per url across different partitionings") {
    def run(pages: DataFrame) = withExtracted(pages, QualityPipeline(pages))
      .select(col("url"), col("extracted_text"), col("scrubbed_text"),
        col("lang_pred"), col("perplexity"), col("keep"))
    val a = run(PagesSynth.pages(spark, 400, 2))
    val b = run(PagesSynth.pages(spark, 400, 13).repartition(7, col("url")))
    assert(a.exceptAll(b).count() == 0L)
    assert(b.exceptAll(a).count() == 0L)
  }

  test("html-only rows route through the extract branch (P1)") {
    val pages = PagesSynth.pages(spark, N, 8)
    val htmlOnly = pages.filter(col("text").isNull && col("html").isNotNull)
    assert(htmlOnly.count() > 0, "generator should emit html-only rows")
    val processed = withExtracted(htmlOnly, out)
    assert(processed.count() == htmlOnly.count())
    // the pipeline scored the extracted text: unscrubbed, it is that text
    assert(processed.filter(col("n_redacted") === 0 &&
      col("scrubbed_text") =!= col("extracted_text")).count() == 0L)
    // extracted text is non-empty and html tags are gone
    assert(processed.filter(length(col("extracted_text")) < 50).count() == 0L)
    assert(processed.filter(col("extracted_text").contains("<p>")).count() == 0L)
    assert(processed.filter(col("extracted_text").contains("track(")).count() == 0L)
  }

  test("blank text + html routes to extraction; host_bucket never " +
      "collapses hostless urls (regression)") {
    import spark.implicits._
    val html = "<html><body>" + (1 to 60).map(i =>
      s"<p>the quick brown fox number $i jumps over the lazy dog today.</p>")
      .mkString + "</body></html>"
    val rows = Seq(
      // present-but-blank text with real html: MUST extract, not score ''
      ("https://a.example/1", new java.sql.Timestamp(0L),
        Some(html.getBytes("UTF-8")), Some("   "), "en"),
      // no extractable host: must not hash to the '' bucket of others
      ("HTTP://UPPER.example/2", new java.sql.Timestamp(0L),
        None: Option[Array[Byte]], Some("plain text body here"), "en"),
      ("not-a-url-at-all", new java.sql.Timestamp(0L),
        None: Option[Array[Byte]], Some("plain text body here"), "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val byUrl = withExtracted(rows, QualityPipeline(rows))
      .select("url", "extracted_text", "host_bucket")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    assert(byUrl("https://a.example/1")._1.contains("quick brown fox"),
      "blank text must route to html extraction")
    // and the pipeline scored that text (it holds no PII to scrub)
    assert(QualityPipeline(rows).filter(col("url") === "https://a.example/1")
      .head().getAs[String]("scrubbed_text") == byUrl("https://a.example/1")._1)
    // uppercase scheme extracts a host; pure junk hashes the whole url —
    // neither may equal the empty-string hash bucket
    val emptyBucket = math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(""),
        org.apache.spark.sql.types.StringType, 42L), 64L).toInt
    assert(byUrl("HTTP://UPPER.example/2")._2 != emptyBucket)
    assert(byUrl("not-a-url-at-all")._2 != emptyBucket)
  }

  test("one poisoned html row (malformed numeric entities) does not fail " +
      "the job — O1 fault envelope covers the extract branch") {
    import spark.implicits._
    val killer = "<p>before &#1114200; mid &#-5; &#xD800; after</p>"
    val good = "<p>" + (1 to 80).map(i => s"word$i").mkString(" ") +
      ". the of and that. one. two. three.</p>"
    val pages = Seq(
      ("http://a.example/page/1", null.asInstanceOf[String],
        killer.getBytes("UTF-8")),
      ("http://a.example/page/2", null.asInstanceOf[String],
        good.getBytes("UTF-8")))
      .toDF("url", "text", "html")
      .withColumn("warc_ts", lit("2025-01-01 00:00:00").cast("timestamp"))
      .withColumn("lang", lit("en"))
    val rows = withExtracted(pages, QualityPipeline(pages))
      .orderBy("url").collect()
    assert(rows.length == 2, "both rows must survive the stage")
    val bad = rows(0)
    // the formerly-lethal entities decode to spaces; the row is scored,
    // not thrown
    val extracted = bad.getAs[String]("extracted_text")
    assert(extracted.contains("before") && extracted.contains("after"))
    assert(!bad.getAs[Boolean]("keep")) // too short — dropped, not crashed
    assert(rows(1).getAs[String]("extracted_text").contains("word80"))
  }

  test("html_text_safe degrades a per-row extraction failure to " +
      "(empty text, error) instead of throwing (O1 per-row isolation)") {
    // force the failure inside the kernel's own try: decoding a string
    // whose byte length is negative throws where the kernel reads its
    // input; the catch must turn that into a degraded row, proving one
    // bad row can never fail the stage
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.expr.GraftKernel("graft_html_text_safe",
      Seq(BoundReference(0, StringType, nullable = true)))
    val r = e.eval(InternalRow(UTF8String.fromAddress(null, 0L, -1)))
      .asInstanceOf[InternalRow]
    assert(r.getUTF8String(0).toString == "")
    assert(r.getUTF8String(1).toString.startsWith("HtmlExtractError:"))
    // and the happy path carries no error
    val ok = graft.expr.GraftKernel("graft_html_text_safe",
      Seq(Literal("<p>hi</p>"))).eval(null).asInstanceOf[InternalRow]
    assert(ok.getUTF8String(0).toString.contains("hi"))
    assert(ok.isNullAt(1))
  }

  test("lineage: rule_lineage carries every rule with value + threshold") {
    val row = out.filter(col("keep")).select(col("rule_lineage")).head()
    val rules = row.getSeq[org.apache.spark.sql.Row](0)
    val names = rules.map(_.getString(0))
    assert(names.contains("word_count_min") && names.contains("lorem_ipsum") &&
      names.contains("dup_10gram_char_fraction") &&
      names.contains("perplexity_max") && names.contains("lang_conf_min"))
    assert(names.distinct.length == names.length)
    // kept doc: nothing fired
    assert(rules.forall(r => !r.getBoolean(1)))
  }

  test("stage times: a noop write of the pipeline charges each document " +
      "once, and time to all five stages, to its own plan") {
    val n = 300L
    val df = QualityPipeline(PagesSynth.pages(spark, n, 4))
    df.write.format("noop").mode("overwrite").save()
    val (nanos, docs) = PageProcess.stageTimes(df)
    assert(docs == n)
    assert(nanos.keySet == StageTimes.stages.toSet)
    assert(nanos.values.forall(_ > 0), nanos)
  }

  test("host_bucket partition column is Zipf-bounded and stable") {
    val hb = out.groupBy("host_bucket").count()
    assert(hb.count() <= 64)
    assert(out.filter(col("host_bucket") < 0 || col("host_bucket") >= 64)
      .count() == 0L)
  }
}
