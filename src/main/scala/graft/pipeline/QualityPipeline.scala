package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.GraftFunctions._

/** The composed webtext quality-filter pipeline (SURVEY §3.5):
  *
  * {{{
  * pages(url, warc_ts, html, text, lang)
  *   → extract   (html-only rows through graft_html_text; P1 branch)
  *   → graft_page_process: ONE fused per-document pass —
  *       tokenize → fused PII scan → refine → span join → scrub
  *       → langid → perplexity → lang-aware Gopher/C4 heuristics
  *       → keep/drop + full rule lineage + per-row fault isolation (O1)
  * }}}
  *
  * Everything is per-row column expressions — zero shuffles, zero custom
  * optimizer rules (SURVEY §4.2): the plan is a project over the scan, and
  * scaling is bounded only by input split parallelism. The only exchange
  * a full job performs is the table append's rebalance by `part_date`
  * before the partitioned write (graft.io.IcebergStyleTable).
  *
  * The fused pass tokenizes each document exactly once (vs ~4x for the
  * à-la-carte stage expressions, which remain available for per-stage
  * queries) — the dominant cost at 100 TB is this per-row CPU.
  */
object QualityPipeline {

  final val PerplexityMax: Double = graft.core.Heuristics.PerplexityMax
  final val LangConfMin: Double = graft.core.Heuristics.LangConfMin

  /** The blank-route whitespace set: Python `str.strip()`'s full
    * whitespace (ASCII controls + every Unicode space, incl. NBSP and
    * the ideographic space U+3000 common on CJK pages), so an NBSP- or
    * ideographic-space-padded text field routes to html extraction
    * exactly like the reference. ONE canonical constant
    * ([[graft.core.Blank.Chars]]) shared by the pipeline route (via the
    * allocation-free graft_is_blank kernel), the p1_branch_route query,
    * and its DuckDB oracle -- trim(chars) on the oracle sides, no regex-engine whitespace-class
    * parity games (Java and RE2 disagree on U+000B, and neither regex
    * whitespace class matches U+00A0 or U+3000). */
  final val BlankChars: String = graft.core.Blank.Chars

  /** pages(url, warc_ts, html, text, lang) → output rows (SURVEY §1.4):
    * `url, warc_ts, lang_claimed, lang_pred, lang_conf, perplexity, keep,
    * scrubbed_text, pii_matches, n_redacted, rule_lineage, error,
    * part_date, host_bucket`. The document text leaves only scrubbed: the
    * extracted text holds the PII the scrub removed, so it stays inside
    * the fused pass, and `pii_matches` carries each span's type and
    * offsets, not its string. `graft_extract_text` of the routed input
    * rebuilds the extracted text where a caller needs it. */
  def apply(pages: DataFrame): DataFrame = {
    pages
      // S2 validation analog FIRST, on source columns only — keeps the
      // (expensive) html extraction out of the pushed-down filter, which
      // would otherwise evaluate graft_html_text twice per html row
      .filter(col("text").isNotNull || col("html").isNotNull)
      // P1 branch, matching the reference predicate exactly: blank text
      // (empty or whitespace) routes to extraction when html exists —
      // present-but-blank text fields are common on real crawl data.
      // "whitespace" = the reference's str.strip() (ALL whitespace, not
      // just 0x20 — plain trim() would score a "\n\t" doc instead of
      // routing it). Native graft_is_blank kernel, NOT trim-then-length:
      // this predicate runs per row on the pipeline hot path, and
      // UTF8String.trim materializes a trimmed COPY of (nearly) the whole
      // text per row just to measure its length; the kernel walks bytes
      // and stops at the first non-blank code point (same Blank.Chars
      // set, equivalence property-tested in FusedKernelDiffSpec).
      .withColumn("needs_extract",
        (col("text").isNull || is_blank_text(col("text"))) &&
          col("html").isNotNull)
      // html extraction through the SAFE form: a failed extract on one
      // garbage page degrades per row (empty text + hx.error, scored as
      // keep = false) instead of failing the stage — the same O1 fault
      // envelope the fused kernel has (round-3 verdict: the unguarded
      // html_text path escaped it)
      .withColumn("hx",
        when(col("needs_extract"), html_text_safe(col("html"))))
      // no isNotNull filter on raw_text: it is provably non-null (rows
      // with both fields null were removed above; needs_extract rows read
      // hx.text, a non-nullable field of a non-null struct; the rest read
      // non-null text) — and the pushed-down predicate would re-evaluate
      // html_text_safe a second time per html row in the FilterExec
      // (subexpression elimination is per-operator), doubling the most
      // expensive kernel on the extract path for nothing
      .withColumn("raw_text",
        when(col("needs_extract"), col("hx.text")).otherwise(col("text")))
      .withColumn("p", page_process(col("raw_text")))
      .select(
        col("url"),
        col("warc_ts"),
        col("lang").as("lang_claimed"),
        col("p.lang").as("lang_pred"),
        col("p.conf").as("lang_conf"),
        col("p.perplexity").as("perplexity"),
        col("p.keep").as("keep"),
        col("p.scrubbed_text").as("scrubbed_text"),
        col("p.pii_matches").as("pii_matches"),
        col("p.n_redacted").as("n_redacted"),
        col("p.rule_lineage").as("rule_lineage"),
        coalesce(col("hx.error"), col("p.error")).as("error"),
        to_date(col("warc_ts")).as("part_date"),
        // host bucket, a partition column for callers that partition by
        // host: any scheme, case-insensitive; URLs with no extractable
        // host hash the whole URL instead of all collapsing into the
        // hash('') bucket (a recreated hot partition otherwise)
        pmod(xxhash64(coalesce(nullif(regexp_extract(col("url"),
          "(?i)^[a-z][a-z0-9+.-]*://([^/]+)", 1), lit("")), col("url"))),
          lit(64)).cast("int").as("host_bucket"))
  }
}
