package graft.expr

import java.lang.reflect.InvocationTargetException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** Custom Catalyst expressions for the quality-filter engine.
  *
  * Design (SURVEY §2.8): these are native `Expression`s, not Scala UDFs.
  * Every scalar `graft_*` function is one row of [[GraftKernel.table]] —
  * SQL name, input types, result type and the [[Kernels]] method that
  * computes it — and one generic expression, [[GraftKernel]], evaluates
  * any row. Its generated code is a direct static call into [[Kernels]],
  * not `CodegenFallback`. The distinction matters structurally, not just
  * per call: `CollapseCodegenStages.supportCodegen` excludes a plan node
  * containing ANY CodegenFallback expression from the generated span, so
  * a fallback `graft_page_process` pushed the WHOLE pipeline projection
  * (including its cheap built-in columns) out of WSCG into the
  * interpreted `ProjectExec`. With static-call codegen the full
  * scan→project pipeline compiles into one generated stage. The
  * interpreted `eval` calls the same method through reflection, so each
  * kernel is named exactly once.
  *
  * Model/pattern state stays JVM-singleton (`graft.core` lazy vals
  * compile once per executor, the analog of the reference's
  * class-load-time `re.compile`, backend/pdf/PIIDetector.py:63-68), and
  * every expression is null-intolerant (null in → null out).
  *
  * `regexp_extract_all` cannot express the fused scan because it has no
  * per-alternative attribution and no offsets — hence `graft_pii_extract`
  * (SURVEY §2.8 rationale).
  */
object GraftSchemas {
  /** A PII span as the pipeline commits it: the type and the offsets
    * into the canonical text (`graft_extract_text` of the input), without
    * the matched string, so no clear-text PII leaves the fused pass. */
  val spanStruct: StructType = StructType(Seq(
    StructField("pii_type", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)))

  /** A span with its matched string, for the PII queries. */
  val matchStruct: StructType =
    spanStruct.add(StructField("text", StringType, nullable = false))

  val tokenStruct: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("detected_as", StringType, nullable = true)))

  val ruleStruct: StructType = StructType(Seq(
    StructField("rule", StringType, nullable = false),
    StructField("fired", BooleanType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("threshold", DoubleType, nullable = false)))

  val piiProcessStruct: StructType = StructType(Seq(
    StructField("full_text", StringType, nullable = false),
    StructField("scrubbed_text", StringType, nullable = false),
    StructField("pii_matches", ArrayType(matchStruct, containsNull = false),
      nullable = false),
    StructField("n_redacted", IntegerType, nullable = false)))

  val langStruct: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("conf", DoubleType, nullable = false)))

  val htmlSafeStruct: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Output of the fused per-document pass: the scrubbed text and the
    * spans, never the unscrubbed text. */
  val pageProcessStruct: StructType = StructType(Seq(
    StructField("scrubbed_text", StringType, nullable = false),
    StructField("pii_matches", ArrayType(spanStruct, containsNull = false),
      nullable = false),
    StructField("n_redacted", IntegerType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("conf", DoubleType, nullable = false),
    StructField("perplexity", DoubleType, nullable = false),
    StructField("rule_lineage", ArrayType(ruleStruct, containsNull = false),
      nullable = false),
    StructField("keep", BooleanType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Constant-string UTF8String cache: rule names, PII type labels, and
    * language codes come from small fixed sets, but
    * `UTF8String.fromString` allocates a fresh byte[] every call — ~30
    * allocations per document across the lineage arrays. UTF8String is
    * immutable, so sharing is safe; the bound guards against a corrupt
    * caller flooding the map. */
  private val utf8Cache =
    new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  def constUtf8(s: String): UTF8String =
    if (utf8Cache.size > 256 && !utf8Cache.containsKey(s))
      UTF8String.fromString(s)
    else utf8Cache.computeIfAbsent(s, UTF8String.fromString(_))

  def matchesToCatalyst(ms: Seq[PiiMatch]): ArrayData =
    new GenericArrayData(ms.map { m =>
      InternalRow(constUtf8(m.piiType.value), m.start, m.end,
        UTF8String.fromString(m.text))
    }.toArray[Any])

  def spansToCatalyst(ms: Seq[PiiMatch]): ArrayData =
    new GenericArrayData(ms.map { m =>
      InternalRow(constUtf8(m.piiType.value), m.start, m.end)
    }.toArray[Any])

  def rulesToCatalyst(rs: Seq[RuleResult]): ArrayData =
    new GenericArrayData(rs.map { r =>
      InternalRow(constUtf8(r.rule), r.fired, r.value, r.threshold)
    }.toArray[Any])
}

/** Static kernel entry points shared by the interpreted `eval` path and
  * the generated code — one body per kernel, two call sites. Generated
  * calls must be static-dispatch and resolvable by Janino through the
  * executor classloader, which plain-object forwarder methods are.
  * Overloads on the input type (UTF8String vs byte[]) let the html
  * kernels accept BINARY or STRING children with the overload resolved
  * from the child's Java type, statically in generated code and by
  * parameter types in [[GraftKernel]]'s reflective lookup. */
object Kernels {

  /** `graft_extract_text(text)` — canonical full_text rebuild (G1
    * contract: blank-skip, single-space rejoin; byte-identical per
    * input). */
  def extractText(v: UTF8String): UTF8String =
    UTF8String.fromString(Tokenizer.tokenizeArrays(v.toString)._1)

  /** `graft_pii_extract(full_text)` — fused multi-pattern scan + refine +
    * sort; ARRAY<STRUCT<pii_type,start,end,text>> (D1-D3). */
  def piiExtract(v: UTF8String): ArrayData =
    GraftSchemas.matchesToCatalyst(PiiDetector.extract(v.toString))

  /** `graft_pii_process(text)` — the whole document-local redaction
    * pipeline in one pass: tokenize → scan/refine/sort → span join →
    * scrub. STRUCT<full_text, scrubbed_text, pii_matches, n_redacted>. */
  def piiProcess(v: UTF8String): InternalRow = {
    val (full, matches, labeled, scrubbed) =
      PiiDetector.detectAndScrub(v.toString)
    InternalRow(
      UTF8String.fromString(full),
      UTF8String.fromString(scrubbed),
      GraftSchemas.matchesToCatalyst(matches),
      labeled.count(_.detectedAs.isDefined))
  }

  /** `graft_page_process(text)` — the fused whole-pipeline pass:
    * tokenize once → PII scan/refine/join/scrub + langid + perplexity +
    * lang-aware heuristics + keep/drop + full rule lineage, with per-row
    * fault isolation (error column instead of stage failure, O1). Emits
    * the scrubbed text and PII spans only (`pageProcessStruct`). The
    * stage times are charged to `times` (may be null). */
  def pageProcess(v: UTF8String, times: StageTimes): InternalRow = {
    val r = DocProcessor.process(v.toString, times)
    InternalRow(
      UTF8String.fromString(r.scrubbedText),
      GraftSchemas.spansToCatalyst(r.matches),
      r.nRedacted,
      GraftSchemas.constUtf8(r.lang),
      r.langConf,
      r.perplexity,
      GraftSchemas.rulesToCatalyst(r.rules),
      r.keep,
      r.error.map(UTF8String.fromString).orNull)
  }

  /** `graft_pii_tokens(text)` — labeled token lineage:
    * ARRAY<STRUCT<text,start,end,detected_as>> (J1-J2 output). */
  def piiTokens(v: UTF8String): ArrayData = {
    val (_, _, labeled, _) = PiiDetector.detectAndScrub(v.toString)
    new GenericArrayData(labeled.map { t =>
      InternalRow(UTF8String.fromString(t.text), t.start, t.end,
        t.detectedAs.map(GraftSchemas.constUtf8).orNull)
    }.toArray[Any])
  }

  /** `graft_langid(text)` — STRUCT<lang, conf> from the broadcast-free
    * JVM-singleton profile table (per-executor init). */
  def langid(v: UTF8String): InternalRow = {
    val (lang, conf) = LangId.predict(v.toString)
    InternalRow(GraftSchemas.constUtf8(lang), conf)
  }

  /** `graft_perplexity(text, lang)` — trigram stupid-backoff perplexity
    * under the per-language LM (unknown lang → en model). */
  def perplexity(t: UTF8String, l: UTF8String): Double =
    NGramLM.perplexity(t.toString, l.toString)

  /** `graft_quality_rules(text, lang)` — full Gopher/C4 rule lineage:
    * ARRAY<STRUCT<rule,fired,value,threshold>>. The stopword rule is
    * lang-aware (per-language stopword lists). */
  def qualityRules(t: UTF8String, l: UTF8String): ArrayData =
    GraftSchemas.rulesToCatalyst(
      Heuristics.evaluate(t.toString, l.toString))

  /** `graft_cosine(a, b)` — cosine similarity of two ARRAY<DOUBLE>
    * vectors in one native pass (sequential double math, deterministic).
    * The HOF formulation (`aggregate(zip_with(...))`) is interpreted per
    * element and costs ~10µs/pair at 64 dims; this is ~100ns — the
    * difference between a feasible and an infeasible pairwise stage
    * (measured 135s → seconds on a 13.5M-pair sweep).
    *
    * Same accumulation order as [[VecMath.cosine]] (bit-identical
    * results — differential-tested in FusedKernelDiffSpec), but reading
    * the ArrayData elements in place: the previous `toDoubleArray()`
    * form allocated TWO array copies per invocation, which on the
    * pairwise exhibits (millions of cosine calls) was gigabytes of
    * allocation churn per query. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = a.getDouble(i)
      val yi = b.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** `graft_shingles(text)` — distinct 3-word shingle strings (whitespace
    * word split — the same `Character.isWhitespace` contract as
    * [[graft.core.Tokenizer.words]] and [[graft.core.Dedup.shingles]], so
    * the LSH banding stage and this confirmation stage agree on
    * multi-line text — lowercased, first-occurrence order). Native form
    * of the HOF pyramid `array_distinct(transform(sequence(...),
    * slice/concat))` whose interpreted evaluation dominates the Jaccard
    * dedup stage. The DuckDB oracle mirrors via
    * `regexp_split_to_array(text, '\s+')`. */
  def shingles(v: UTF8String): ArrayData = {
    val text = v.toString
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      val w0 = i
      while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
      if (i > w0)
        words += text.substring(w0, i).toLowerCase(java.util.Locale.ROOT)
    }
    val out = new java.util.LinkedHashSet[String]()
    if (words.isEmpty) {
      // EMPTY array, aligned with Dedup.shingles(""): a single
      // empty-string shingle would score any two blank docs at Jaccard
      // 1.0 and glue every blank document into one mega-cluster — the
      // exact degenerate cluster the banding skew guard (no bands for
      // blank docs) exists to prevent
    } else if (words.length < 3) {
      out.add(words.mkString(" "))
    } else {
      var j = 0
      while (j + 3 <= words.length) {
        out.add(words(j) + " " + words(j + 1) + " " + words(j + 2))
        j += 1
      }
    }
    new GenericArrayData(
      out.toArray.map(s => UTF8String.fromString(s.asInstanceOf[String]): Any))
  }

  /** `graft_html_text(html)` — deterministic HTML→text extraction for
    * html-only rows (P1 branch analog), from BINARY (UTF-8) or STRING. */
  def htmlText(v: UTF8String): UTF8String =
    UTF8String.fromString(HtmlText.extract(v.toString))
  def htmlText(v: Array[Byte]): UTF8String =
    UTF8String.fromString(HtmlText.extract(
      new String(v, java.nio.charset.StandardCharsets.UTF_8)))

  /** `graft_html_text_safe(html)` — STRUCT<text, error>: the same
    * extraction wrapped in per-row fault isolation (SURVEY O1, the
    * reference's per-file try/except at backend/pdf/PDFRedactor.py:39-43).
    * The pipeline routes html-only rows through THIS form: an extraction
    * failure on one garbage page — decoding the input included, hence the
    * by-name argument — degrades to `(text = '', error = <class:
    * message>)` instead of failing the whole stage; the round-3 verdict's
    * task-killer was one malformed numeric entity on one html-routed page
    * escaping the fused kernel's fault envelope. `graft_html_text` stays
    * the exact unguarded function for à-la-carte use and the oracle
    * queries. */
  private def htmlTextSafeImpl(s: => String): InternalRow =
    try InternalRow(UTF8String.fromString(HtmlText.extract(s)), null)
    catch {
      case e: Throwable =>
        InternalRow(UTF8String.EMPTY_UTF8, UTF8String.fromString(
          s"HtmlExtractError: ${e.getClass.getName}: ${e.getMessage}"))
    }
  def htmlTextSafe(v: UTF8String): InternalRow = htmlTextSafeImpl(v.toString)
  def htmlTextSafe(v: Array[Byte]): InternalRow = htmlTextSafeImpl(
    new String(v, java.nio.charset.StandardCharsets.UTF_8))

  /** `graft_is_blank(text)`, the pipeline's P1 route predicate: blankness
    * under the canonical [[graft.core.Blank.Chars]] set —
    * exactly `length(trim(text, Chars)) == 0`, but allocation-free: the
    * trim form copies nearly the whole text per row (UTF8String.trim
    * materializes the trimmed copy) just to test emptiness; this walks
    * the UTF-8 bytes and stops at the first non-blank code point. */
  def isBlankText(v: UTF8String): Boolean = {
    val n = v.numBytes()
    var i = 0
    while (i < n) {
      val b = v.getByte(i) & 0xff
      if (b < 0x80) {
        if (!(b == 0x20 || (b >= 0x09 && b <= 0x0D) || (b >= 0x1C && b <= 0x1F)))
          return false
        i += 1
      } else {
        // decode one multibyte code point (Spark strings are valid UTF-8)
        var cp = 0
        var len = 0
        if ((b & 0xE0) == 0xC0) { cp = b & 0x1F; len = 2 }
        else if ((b & 0xF0) == 0xE0) { cp = b & 0x0F; len = 3 }
        else { cp = b & 0x07; len = 4 }
        if (i + len > n) return false // malformed tail: treat as non-blank
        var j = 1
        while (j < len) { cp = (cp << 6) | (v.getByte(i + j) & 0x3F); j += 1 }
        if (!graft.core.Blank.isBlankCodePoint(cp)) return false
        i += len
      }
    }
    true
  }

  /** `graft_word_count(text)` — tokenizer-contract word count (BIGINT),
    * without materializing the word list. */
  def wordCount(v: UTF8String): Long = Tokenizer.wordCount(v.toString)

  /** `graft_minhash(text)` — MinHash signature, ARRAY<BIGINT>(128). */
  def minhash(v: UTF8String): ArrayData =
    new GenericArrayData(Dedup.minHashSignature(v.toString))

  /** `graft_lsh_bands(text)` — LSH band keys (32 bands x 4 rows),
    * ARRAY<BIGINT>. Empty/whitespace docs emit NO bands (skew guard — see
    * [[graft.core.Dedup.lshBandKeysGuarded]]). */
  def lshBands(v: UTF8String): ArrayData =
    new GenericArrayData(Dedup.lshBandKeysGuarded(v.toString))

  /** `graft_simhash(text)` — 64-bit SimHash (BIGINT). */
  def simHash(v: UTF8String): Long = Dedup.simHash(v.toString)

  /** `graft_fingerprint(text)` — rolling-hash document fingerprint
    * (BIGINT) over a 64-char window. The window is passed explicitly:
    * a Scala default argument is no bytecode overload, so a generated
    * call that left it out once failed to compile and the WHOLE
    * projection silently fell back to interpreter mode (caught via the
    * sf1 run's fallback warnings; CodegenSmokeSpec now sweeps every
    * registered kernel against this class of bug). */
  def fingerprint(v: UTF8String): Long = Dedup.fingerprint(v.toString, 64)

  /** `graft_bpe_count(text)` — token count under the trained BPE merge
    * table (whitespace words, lowercased, [[graft.core.Bpe]] merges;
    * BIGINT). The merge table is a JVM singleton trained deterministically
    * from SeedCorpus, and the DuckDB oracle re-applies the identical
    * merges as a literal replace chain ([[graft.core.Bpe.tokenCountSql]]). */
  def bpeCount(v: UTF8String): Long = Bpe.countText(v.toString)

  /** `graft_lsh_project(emb)` — 16-hyperplane signed-random-projection
    * LSH signature (BIGINT, low 16 bits). Hyperplane weights are small
    * integers derived from (bit, dim) by fixed mixing arithmetic, so the
    * exact same signature is computable in plain SQL (the DuckDB oracle
    * mirrors it). Native sequential double math — the interpreted
    * `aggregate(zip_with(...))` HOF form costs ~10µs/row; this is ~100ns.
    * ANN use: candidates = rows whose signature is within a small hamming
    * radius of the query's (multi-probe); rank candidates by exact
    * cosine. */
  def lshProject(v: ArrayData): Long = {
    val len = v.numElements()
    var sig = 0L
    var b = 1
    while (b <= 16) {
      var s = 0.0
      var i = 1
      while (i <= len) {
        // weight in [-4, 4]; 1-based (b, i) to match the SQL mirror;
        // elements read in place (no toDoubleArray copy per row)
        s += v.getDouble(i - 1) * ((2654435761L * i + 40503L * b) % 9 - 4).toDouble
        i += 1
      }
      if (s > 0) sig |= (1L << (b - 1))
      b += 1
    }
    sig
  }

  /** max(abs(x)) over the non-null elements of a double array — exactly
    * `array_max(transform(a, x -> abs(x)))`, which skips nulls (max is
    * order-independent; abs values are >= 0.0 or NaN, and
    * `Double.compare` keeps NaN greatest like Spark's ordering). Returns
    * -1.0 when no element is non-null; the caller maps that to null. */
  def absMax(a: ArrayData): Double = {
    val n = a.numElements()
    var m = -1.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(a.getDouble(i))
        if (java.lang.Double.compare(v, m) > 0) m = v
      }
      i += 1
    }
    m
  }

  /** Same accumulation order as [[VecMath.cosine]] with a primitive
    * centroid side — used by [[ivfAssign]] below. */
  private def cosineAD(a: ArrayData, y: Array[Double]): Double = {
    val n = math.min(a.numElements(), y.length)
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = a.getDouble(i)
      val yi = y(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  // The centroid table arrives as a LITERAL: the same ArrayData instance
  // for every row of a query. Its nested GenericArrayData elements box
  // every double, so reading them per row cost k x dim unboxing virtual
  // calls per row (at auto-k = 447 on a 200k-vector table: ~5.7G boxed
  // reads — measured 16 s for ann_ivf_auto at sf10). Convert ONCE per
  // thread per literal (identity-keyed; a different codebook literal
  // reconverts). Same doubles, same accumulation order — bit-identical.
  private val ivfCentCache =
    new ThreadLocal[(ArrayData, Array[Array[Double]])]()

  private def decodeCentroids(cents: ArrayData): Array[Array[Double]] = {
    val k = cents.numElements()
    val arr = new Array[Array[Double]](k)
    var i = 0
    while (i < k) { arr(i) = cents.getArray(i).toDoubleArray(); i += 1 }
    arr
  }

  /** `graft_ivf_assign(emb, centroids)` — IVF coarse-quantizer
    * assignment: index (BIGINT) of the centroid with max cosine similarity
    * (ties → lowest index). Centroids arrive as a broadcast literal
    * ARRAY<ARRAY<DOUBLE>> — the coarse codebook is tiny by construction,
    * so assignment is a pure map: no shuffle, no window, no per-row
    * join. */
  def ivfAssign(a: ArrayData, cents: ArrayData): Long = {
    // identity-keyed caching is only sound for GenericArrayData (the
    // form literals take, with a stable boxed backing array) — other
    // ArrayData implementations (ColumnarArray, UnsafeArrayData) may
    // legally reuse one instance over different buffer contents per
    // row, so those decode per call like the pre-cache code did
    val cc =
      if (cents.isInstanceOf[
          org.apache.spark.sql.catalyst.util.GenericArrayData]) {
        var cached = ivfCentCache.get()
        if (cached == null || (cached._1 ne cents)) {
          cached = (cents, decodeCentroids(cents))
          ivfCentCache.set(cached)
        }
        cached._2
      } else decodeCentroids(cents)
    var best = 0L
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cc.length) {
      val sim = cosineAD(a, cc(i))
      if (sim > bestSim) { bestSim = sim; best = i.toLong }
      i += 1
    }
    best
  }
}

/** One scalar `graft_*` function: its SQL name, its input types, its
  * result type and the [[Kernels]] method that computes it. `defaults`
  * fill trailing arguments a SQL caller may leave out. */
final case class KernelSpec(name: String, inputTypes: Seq[Shim.InputType],
                            dataType: DataType, method: String,
                            defaults: Seq[Expression] = Nil)

/** A scalar `graft_*` function applied to its arguments: the
  * [[GraftKernel.table]] row called `name` supplies the input and result
  * types and the [[Kernels]] method. [[UnaryKernel]] and [[BinaryKernel]]
  * are its one- and two-argument forms ([[PageProcess]] is
  * `graft_page_process`'s, which also passes its stage times), so that
  * Spark's Unary/BinaryExpression supply the null-intolerant `eval`,
  * `nullable` (any argument nullable), foldability and the null-safe code
  * template: the generated Java is that template around one static call,
  * `graft.expr.Kernels.<method>(…)`. `name` is part of equality: two
  * kernels over one column are never one common subexpression. */
sealed trait GraftKernel extends Expression with ExpectsInputTypes {
  def name: String
  @transient private lazy val spec: KernelSpec = GraftKernel.spec(name)
  override def inputTypes: Seq[Shim.InputType] = spec.inputTypes
  override def dataType: DataType = spec.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = name
  // plans read `graft_page_process(raw_text#n)`: the name is not an argument
  override protected def flatArguments: Iterator[Any] = children.iterator

  /** The method generated code binds to: the row's method name at the
    * children's Java types, resolved once per expression instance. */
  @transient private lazy val method = Kernels.getClass.getMethod(
    spec.method, children.map(c => CodeGenerator.javaClass(c.dataType)): _*)

  protected def invoke(args: Any*): Any =
    try method.invoke(Kernels, args.map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  protected def call(args: String*): String =
    s"graft.expr.Kernels.${spec.method}(${args.mkString(", ")})"
}

object GraftKernel {

  def apply(name: String, children: Seq[Expression]): GraftKernel =
    children match {
      case Seq(c) if name == PageProcess.Name => PageProcess(c)
      case Seq(c) => UnaryKernel(name, c)
      case Seq(l, r) => BinaryKernel(name, l, r)
    }

  private val text = Seq(StringType)
  private val vector = ArrayType(DoubleType)

  /** Every scalar `graft_*` function, one row each. */
  val table: Seq[KernelSpec] = Seq(
    KernelSpec("graft_extract_text", text, StringType, "extractText"),
    KernelSpec("graft_pii_extract", text,
      ArrayType(GraftSchemas.matchStruct, containsNull = false), "piiExtract"),
    KernelSpec("graft_pii_process", text, GraftSchemas.piiProcessStruct,
      "piiProcess"),
    KernelSpec("graft_page_process", text, GraftSchemas.pageProcessStruct,
      "pageProcess"),
    KernelSpec("graft_pii_tokens", text,
      ArrayType(GraftSchemas.tokenStruct, containsNull = false), "piiTokens"),
    KernelSpec("graft_langid", text, GraftSchemas.langStruct, "langid"),
    KernelSpec("graft_perplexity", Seq(StringType, StringType), DoubleType,
      "perplexity"),
    KernelSpec("graft_quality_rules", Seq(StringType, StringType),
      ArrayType(GraftSchemas.ruleStruct, containsNull = false), "qualityRules",
      defaults = Seq(Literal("en"))),
    KernelSpec("graft_html_text", Seq(Shim.StringOrBinary), StringType,
      "htmlText"),
    KernelSpec("graft_html_text_safe", Seq(Shim.StringOrBinary),
      GraftSchemas.htmlSafeStruct, "htmlTextSafe"),
    KernelSpec("graft_cosine", Seq(vector, vector), DoubleType, "cosine"),
    KernelSpec("graft_shingles", text,
      ArrayType(StringType, containsNull = false), "shingles"),
    KernelSpec("graft_is_blank", text, BooleanType, "isBlankText"),
    KernelSpec("graft_word_count", text, LongType, "wordCount"),
    KernelSpec("graft_minhash", text, ArrayType(LongType, containsNull = false),
      "minhash"),
    KernelSpec("graft_lsh_bands", text,
      ArrayType(LongType, containsNull = false), "lshBands"),
    KernelSpec("graft_simhash", text, LongType, "simHash"),
    KernelSpec("graft_fingerprint", text, LongType, "fingerprint"),
    KernelSpec("graft_lsh_project", Seq(vector), LongType, "lshProject"),
    KernelSpec("graft_ivf_assign", Seq(vector, ArrayType(vector)), LongType,
      "ivfAssign"),
    KernelSpec("graft_bpe_count", text, LongType, "bpeCount"))

  private val byName: Map[String, KernelSpec] =
    table.map(k => k.name -> k).toMap

  def spec(name: String): KernelSpec = byName(name)
}

case class UnaryKernel(name: String, child: Expression) extends UnaryExpression
    with GraftKernel {
  override protected def nullSafeEval(v: Any): Any = invoke(v)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, call(_))
  override protected def withNewChildInternal(c: Expression): UnaryKernel =
    copy(child = c)
}

case class BinaryKernel(name: String, left: Expression, right: Expression)
    extends BinaryExpression with GraftKernel {
  override protected def nullSafeEval(a: Any, b: Any): Any = invoke(a, b)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, call(_, _))
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BinaryKernel = copy(left = l, right = r)
}

/** `graft_page_process(text)`: the kernel-table row whose expression
  * carries the [[StageTimes]] its documents are charged to. They are
  * created when the expression is built, on the driver of the active
  * session, and every copy the optimizer makes shares them, so the copies
  * stay one common subexpression. Generated code passes them to the
  * kernel as a reference object, and `eval` passes the same object. */
case class PageProcess(child: Expression, times: StageTimes)
    extends UnaryExpression with GraftKernel {
  override def name: String = PageProcess.Name
  override protected def nullSafeEval(v: Any): Any =
    Kernels.pageProcess(v.asInstanceOf[UTF8String], times)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("stageTimes", times)
    defineCodeGen(ctx, ev, call(_, t))
  }
  override protected def withNewChildInternal(c: Expression): PageProcess =
    copy(child = c)
}

object PageProcess {
  final val Name = "graft_page_process"

  def apply(child: Expression): PageProcess =
    PageProcess(child, StageTimes(SparkSession.active.sparkContext))

  /** The kernel's nanos per stage and its documents, merged from the
    * tasks of the jobs that ran `df`: the [[StageTimes]] of the
    * `graft_page_process` expressions in its analyzed plan, summed; 0
    * each if it has none. Read on the driver after `df` has run. */
  def stageTimes(df: DataFrame): (Map[String, Long], Long) =
    StageTimes.sum(df.queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case p: PageProcess =>
        p.times }))
      .distinct)
}

/** `graft_absmax(emb)` — max(abs(x)) of ARRAY<DOUBLE> (DOUBLE; null
  * elements are skipped, and null input or an array with no non-null
  * element gives null, matching `array_max` on the `transform` result).
  * Native whole-stage-codegen form of
  * `array_max(transform(emb, x -> abs(x)))`, whose per-element lambda
  * is CodegenFallback and evaluated interpreted in the int8-quantization
  * scan. Its own class: the kernel's -1 sentinel maps to null. */
case class AbsMax(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val m = Kernels.absMax(v.asInstanceOf[ArrayData])
    if (m < 0) null else m
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.expr.Kernels.absMax($c);
      |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): AbsMax = copy(c)
  override def prettyName: String = "graft_absmax"
}
