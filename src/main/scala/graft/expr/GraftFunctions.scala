package graft.expr

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim

/** Function surface: every custom expression is registered under a
  * `graft_*` SQL name (usable from `spark.sql` and the DuckDB-oracle
  * harness via Verify) and exposed as a typed `Column` helper.
  */
object GraftFunctions {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_extract_text" -> { es => ExtractText(es.head) },
    "graft_pii_extract" -> { es => PiiExtractAll(es.head) },
    "graft_pii_process" -> { es => PiiProcess(es.head) },
    "graft_page_process" -> { es => PageProcess(es.head) },
    "graft_pii_tokens" -> { es => PiiTokens(es.head) },
    "graft_langid" -> { es => LangIdExpr(es.head) },
    "graft_perplexity" -> { es => PerplexityExpr(es(0), es(1)) },
    "graft_quality_rules" -> { es =>
      if (es.length > 1) QualityRules(es(0), es(1))
      else QualityRules(es.head,
        org.apache.spark.sql.catalyst.expressions.Literal("en")) },
    "graft_html_text" -> { es => HtmlTextExpr(es.head) },
    "graft_html_text_safe" -> { es => HtmlTextSafeExpr(es.head) },
    "graft_cosine" -> { es => CosineSim(es(0), es(1)) },
    "graft_absmax" -> { es => AbsMax(es.head) },
    "graft_shingles" -> { es => ShingleExpr(es.head) },
    "graft_is_blank" -> { es => IsBlankText(es.head) },
    "graft_word_count" -> { es => WordCount(es.head) },
    "graft_minhash" -> { es => MinHashSig(es.head) },
    "graft_lsh_bands" -> { es => LshBands(es.head) },
    "graft_simhash" -> { es => SimHashExpr(es.head) },
    "graft_fingerprint" -> { es => FingerprintExpr(es.head) },
    "graft_lsh_project" -> { es => LshProject(es.head) },
    "graft_ivf_assign" -> { es => IvfAssign(es(0), es(1)) },
    "graft_bpe_count" -> { es => BpeCount(es.head) },
    // aggregate: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression (same path as the built-ins)
    "graft_bounded_ids" -> { es =>
      // a non-foldable cap (a column) has no value to eval: reject it
      // with the same error as a non-integer literal
      BoundedIds(es(0), (if (es(1).foldable) es(1).eval() else es(1)) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_bounded_ids cap must be an integer literal, got $other")
      }) })

  /** Register on an existing session, once: a name the session already
    * holds ([[GraftExtensions]], or an earlier call) is left as it is, so
    * repeated calls do not make Spark warn that each function replaced a
    * previously registered one. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      if (!Shim.functionExists(spark, name))
        Shim.registerFunction(spark, name, b)
    }

  // Typed Column helpers
  def extract_text(c: Column): Column = Shim.column(ExtractText(Shim.expression(c)))
  def pii_extract(c: Column): Column = Shim.column(PiiExtractAll(Shim.expression(c)))
  def pii_process(c: Column): Column = Shim.column(PiiProcess(Shim.expression(c)))
  def page_process(c: Column): Column = Shim.column(PageProcess(Shim.expression(c)))
  def pii_tokens(c: Column): Column = Shim.column(PiiTokens(Shim.expression(c)))
  def langid(c: Column): Column = Shim.column(LangIdExpr(Shim.expression(c)))
  def perplexity(t: Column, l: Column): Column =
    Shim.column(PerplexityExpr(Shim.expression(t), Shim.expression(l)))
  def quality_rules(c: Column, lang: Column): Column =
    Shim.column(QualityRules(Shim.expression(c), Shim.expression(lang)))
  def html_text(c: Column): Column = Shim.column(HtmlTextExpr(Shim.expression(c)))
  def html_text_safe(c: Column): Column =
    Shim.column(HtmlTextSafeExpr(Shim.expression(c)))
  def cosine(a: Column, b: Column): Column =
    Shim.column(CosineSim(Shim.expression(a), Shim.expression(b)))
  def absmax(c: Column): Column = Shim.column(AbsMax(Shim.expression(c)))
  def shingles(c: Column): Column = Shim.column(ShingleExpr(Shim.expression(c)))
  def is_blank_text(c: Column): Column = Shim.column(IsBlankText(Shim.expression(c)))
  def word_count(c: Column): Column = Shim.column(WordCount(Shim.expression(c)))
  def minhash(c: Column): Column = Shim.column(MinHashSig(Shim.expression(c)))
  def lsh_bands(c: Column): Column = Shim.column(LshBands(Shim.expression(c)))
  def simhash(c: Column): Column = Shim.column(SimHashExpr(Shim.expression(c)))
  def fingerprint(c: Column): Column = Shim.column(FingerprintExpr(Shim.expression(c)))
  def lsh_project(c: Column): Column = Shim.column(LshProject(Shim.expression(c)))
  def ivf_assign(emb: Column, cents: Column): Column =
    Shim.column(IvfAssign(Shim.expression(emb), Shim.expression(cents)))
  def bpe_count(c: Column): Column = Shim.column(BpeCount(Shim.expression(c)))
  def bounded_ids(c: Column, cap: Int): Column =
    Shim.column(BoundedIds(Shim.expression(c), cap).toAggregateExpression())
}

/** `SparkSessionExtensions` hook: build sessions with
  * `.withExtensions(new GraftExtensions)` (or set
  * `spark.sql.extensions=graft.expr.GraftExtensions`) to get the function
  * surface without touching session internals. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.expr.GraftExpressions", name),
        (es: Seq[Expression]) => b(es)))
    }
  }
}
