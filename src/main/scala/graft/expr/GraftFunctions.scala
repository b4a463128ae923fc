package graft.expr

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim

/** Function surface: every custom expression is registered under a
  * `graft_*` SQL name (usable from `spark.sql` and the DuckDB-oracle
  * harness via Verify) and exposed as a typed `Column` helper. The scalar
  * functions come from [[GraftKernel.table]]; every builder rejects a
  * wrong argument count with an IllegalArgumentException naming the
  * function, and the analyzer rejects a wrong argument type.
  */
object GraftFunctions {

  /** `args`, if `name` takes that many arguments. */
  private def arity(name: String, min: Int, max: Int,
                    args: Seq[Expression]): Seq[Expression] = {
    if (args.length < min || args.length > max)
      throw new IllegalArgumentException(s"$name takes " +
        s"${if (min == max) s"$min" else s"$min to $max"} argument(s), " +
        s"got ${args.length}")
    args
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] =
    GraftKernel.table.map { k =>
      val max = k.inputTypes.length
      val min = max - k.defaults.length
      k.name -> { (es: Seq[Expression]) =>
        GraftKernel(k.name,
          arity(k.name, min, max, es) ++ k.defaults.drop(es.length - min))
      }
    } ++ Seq(
      "graft_absmax" -> { es => AbsMax(arity("graft_absmax", 1, 1, es).head) },
      // aggregate: the analyzer wraps a bare AggregateFunction from the
      // registry in an AggregateExpression (same path as the built-ins)
      "graft_bounded_ids" -> { es =>
        val Seq(ids, cap) = arity("graft_bounded_ids", 2, 2, es)
        // a non-foldable cap (a column) has no value to eval: reject it
        // with the same error as a non-integer literal
        BoundedIds(ids, (if (cap.foldable) cap.eval() else cap) match {
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
  private def kernel(name: String, args: Column*): Column =
    Shim.column(GraftKernel(name, args.map(Shim.expression)))
  def extract_text(c: Column): Column = kernel("graft_extract_text", c)
  def pii_extract(c: Column): Column = kernel("graft_pii_extract", c)
  def pii_process(c: Column): Column = kernel("graft_pii_process", c)
  def page_process(c: Column): Column = kernel("graft_page_process", c)
  def pii_tokens(c: Column): Column = kernel("graft_pii_tokens", c)
  def langid(c: Column): Column = kernel("graft_langid", c)
  def perplexity(t: Column, l: Column): Column = kernel("graft_perplexity", t, l)
  def quality_rules(c: Column, lang: Column): Column =
    kernel("graft_quality_rules", c, lang)
  def html_text(c: Column): Column = kernel("graft_html_text", c)
  def html_text_safe(c: Column): Column = kernel("graft_html_text_safe", c)
  def cosine(a: Column, b: Column): Column = kernel("graft_cosine", a, b)
  def absmax(c: Column): Column = Shim.column(AbsMax(Shim.expression(c)))
  def shingles(c: Column): Column = kernel("graft_shingles", c)
  def is_blank_text(c: Column): Column = kernel("graft_is_blank", c)
  def word_count(c: Column): Column = kernel("graft_word_count", c)
  def minhash(c: Column): Column = kernel("graft_minhash", c)
  def lsh_bands(c: Column): Column = kernel("graft_lsh_bands", c)
  def simhash(c: Column): Column = kernel("graft_simhash", c)
  def fingerprint(c: Column): Column = kernel("graft_fingerprint", c)
  def lsh_project(c: Column): Column = kernel("graft_lsh_project", c)
  def ivf_assign(emb: Column, cents: Column): Column =
    kernel("graft_ivf_assign", emb, cents)
  def bpe_count(c: Column): Column = kernel("graft_bpe_count", c)
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
