package graft.model

import java.sql.Timestamp
import java.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._

/** One Common-Crawl-style page (BASELINE.json input_hint, exact shape):
  * `pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
  * lang STRING)`. `html`-only rows (text = None) exercise the extract
  * branch (P1 analog). */
final case class PageRow(url: String, warc_ts: Timestamp,
                         html: Option[Array[Byte]], text: Option[String],
                         lang: String)

/** Generator ground truth for a page: intent labels for the F1 gate
  * (FIXTURES.md §2) — planted defect (or "none"), expected keep/drop, the
  * number of planted PII strings, and whether the generation-time
  * validation loop succeeded (`validatedOk = true` additionally guarantees
  * for clean docs: predicted lang == intended lang, conf >= LangConfMin,
  * and perplexity <= 0.8 * PerplexityMax — the strict generator gate). */
final case class PageTruth(id: Long, lang: String, defect: String,
                           expectedKeep: Boolean, nPii: Int,
                           validatedOk: Boolean)

/** Truth row keyed by url — the dumpable form the DuckDB oracle reads
  * (labels are exact by construction, so `expected_keep` IS the oracle for
  * the pipeline's keep decision and `lang` for clean validated docs IS the
  * oracle for langid). */
final case class PageTruthRow(url: String, lang: String, defect: String,
                              expected_keep: Boolean, n_pii: Long,
                              validated_ok: Boolean)

/** Page row + its truth labels in one record: the synth-backed queries
  * need both, and generating them together costs ONE validation loop per
  * id instead of two (pages() + truthTable() would each rerun it). */
final case class PageWithTruth(url: String, warc_ts: Timestamp,
                               html: Option[Array[Byte]], text: Option[String],
                               lang: String, true_lang: String, defect: String,
                               expected_keep: Boolean, n_pii: Long,
                               validated_ok: Boolean)

/** Deterministic synthetic pages table (seed 42, no wall clock, no
  * external data; SURVEY §7.1 step 1).
  *
  * Every row is a pure function of its id — `new Random(mix(id))` per row —
  * so the table is identical regardless of partitioning, parallelism, or
  * generation order (the basis of the byte-identical-output checks).
  * Hosts/TLDs are Zipf-skewed (the salting test input), languages follow
  * the driver-testdata distribution, ~25% of docs carry exactly one
  * planted quality defect, ~35% carry 1-3 planted PII strings at known
  * positions, and ~5% of clean docs arrive html-only.
  *
  * Clean docs are *validated at generation*: the generator retries (child
  * seeds, bounded) until the doc passes every heuristic rule, langid, and
  * the perplexity threshold — so `expectedKeep` is an exact label, not a
  * hope, and measured F1 vs the pipeline is meaningfully 1.0.
  */
object PagesSynth {

  final val Seed = 42L
  final val PerplexityMax: Double = Heuristics.PerplexityMax
  final val LangConfMin: Double = Heuristics.LangConfMin
  final val NumHosts = 500

  private val tlds = IndexedSeq("com", "org", "net", "de", "fr", "es", "cn", "io")
  private val defects = IndexedSeq("too_short", "symbol_spam", "dup_para",
    "lorem_ipsum", "non_alpha", "gibberish", "ellipsis_spam", "no_stopwords")

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def pickLang(rnd: Random): String = {
    val u = rnd.nextDouble()
    if (u < 0.44) "en"
    else if (u < 0.58) "fr"
    else if (u < 0.72) "es"
    else if (u < 0.86) "de"
    else "zh"
  }

  /** Zipf-skewed host: rank ~ u^3 concentrates mass on low ranks. */
  private def pickHost(rnd: Random): String = {
    val u = rnd.nextDouble()
    val rank = math.min((u * u * u * NumHosts).toInt, NumHosts - 1)
    s"host$rank.${tlds(rank % tlds.length)}"
  }

  private def sentence(lang: String, rnd: Random, nWords: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(SeedCorpus.sampleWord(lang, rnd))
      i += 1
    }
    sb.append('.')
    sb.toString
  }

  /** Base clean text: sentences grouped into lines and paragraphs. */
  private def cleanText(lang: String, rnd: Random): String = {
    val nSentences = 6 + rnd.nextInt(18)
    val sb = new StringBuilder
    var lineCount = 0
    var linesPerPara = 3 + rnd.nextInt(3)
    var s = 0
    while (s < nSentences) {
      val line = sentence(lang, rnd, 8 + rnd.nextInt(7)) +
        (if (rnd.nextBoolean() && s + 1 < nSentences) {
          s += 1; " " + sentence(lang, rnd, 6 + rnd.nextInt(6))
        } else "")
      sb.append(line)
      lineCount += 1
      if (lineCount % linesPerPara == 0) sb.append("\n\n") else sb.append('\n')
      s += 1
    }
    sb.toString.trim
  }

  private def gibberishWord(rnd: Random): String = {
    val cons = "bcdfghjklmnpqrstvwxz"
    val n = 4 + rnd.nextInt(5)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(cons.charAt(rnd.nextInt(cons.length))); i += 1 }
    sb.toString
  }

  private def applyDefect(base: String, defect: String, lang: String,
                          rnd: Random): String = defect match {
    case "too_short" =>
      sentence(lang, rnd, 5 + rnd.nextInt(10))
    case "symbol_spam" =>
      val n = Tokenizer.words(base).length / 4 + 5
      base + "\n" + ("# " * n).trim + "."
    case "dup_para" =>
      val para = sentence(lang, rnd, 12) + " " + sentence(lang, rnd, 10)
      (1 to 6).map(_ => para).mkString("\n\n")
    case "lorem_ipsum" =>
      val lines = base.split('\n')
      (lines.take(2) ++ Array("lorem ipsum dolor sit amet consectetur.") ++
        lines.drop(2)).mkString("\n")
    case "non_alpha" =>
      // replace ~40% of words with digit runs (too short to be PII: 4-7 digits)
      Tokenizer.words(base).map { w =>
        if (rnd.nextDouble() < 0.4)
          (1 to (4 + rnd.nextInt(4))).map(_ => rnd.nextInt(10)).mkString
        else w
      }.mkString(" ")
    case "gibberish" =>
      // alphabetic, stopwords sprinkled (so only perplexity + conf fire),
      // sentence-shaped
      val stop = SeedCorpus.stopwordsFor(lang).toIndexedSeq.sorted
      val n = 120 + rnd.nextInt(80)
      val ws = (0 until n).map { i =>
        if (i % 9 == 0) stop(rnd.nextInt(stop.length)) else gibberishWord(rnd)
      }
      ws.grouped(12).map(_.mkString(" ") + ".").mkString("\n")
    case "ellipsis_spam" =>
      // deterministic: every non-empty line ellipsized + filler lines, so
      // the ratio stays above threshold even after PII plants touch lines
      (base.split('\n').map { l =>
        if (l.nonEmpty) l.stripSuffix(".") + "..." else l
      } ++ Array("read more ...", "click here ...", "and so on ...")
      ).mkString("\n")
    case "no_stopwords" =>
      val pool = SeedCorpus.vocab(lang).drop(30)
      val n = 90 + rnd.nextInt(60)
      (0 until n).map(_ => pool(rnd.nextInt(pool.length)))
        .grouped(11).map(_.mkString(" ") + ".").mkString("\n")
    case _ => base
  }

  private def piiString(rnd: Random): String = rnd.nextInt(9) match {
    // s-interpolation, NOT f"%0Nd": the ranges already guarantee the digit
    // widths, and String.format uses the DEFAULT LOCALE — a JVM with
    // non-Latin digit locales would emit e.g. Arabic-Indic digits, breaking
    // both the planted-PII truth labels and cross-platform byte identity
    case 0 => s"${100 + rnd.nextInt(900)}-${10 + rnd.nextInt(90)}-${1000 + rnd.nextInt(9000)}"
    case 1 => (1 to 9).map(_ => rnd.nextInt(10)).mkString // routing
    case 2 => (1 to (10 + rnd.nextInt(8))).map(_ => rnd.nextInt(10)).mkString // account
    case 3 => s"credit score: ${600 + rnd.nextInt(250)}"
    case 4 => s"credit report: ${IndexedSeq("very good", "good", "excellent", "fair", "poor", "bad")(rnd.nextInt(6))}"
    case 5 => (1 to 4).map(_ => 1000 + rnd.nextInt(9000)).mkString("-") // card
    case 6 => s"(${200 + rnd.nextInt(800)}) ${200 + rnd.nextInt(800)}-${1000 + rnd.nextInt(9000)}"
    case 7 => s"user${rnd.nextInt(10000)}@example${rnd.nextInt(100)}.com"
    case 8 => (1 to 4).map(_ => 1 + rnd.nextInt(254)).mkString(".")
  }

  private def plantPii(text: String, nPii: Int, rnd: Random): String = {
    if (nPii == 0) return text
    var out = text
    var i = 0
    while (i < nPii) {
      val ws = out.split('\n')
      val li = rnd.nextInt(ws.length)
      ws(li) = ws(li) + " " + piiString(rnd) + "."
      out = ws.mkString("\n")
      i += 1
    }
    out
  }

  private def wrapHtml(text: String, rnd: Random): String = {
    val body = text.split('\n').map { l =>
      if (l.trim.isEmpty) "" else s"<p>${l}</p>"
    }.mkString("\n")
    s"""<html><head><title>page ${rnd.nextInt(1000)}</title>
       |<script>var x = ${rnd.nextInt(100)}; track(x);</script>
       |<style>.c${rnd.nextInt(10)} { color: red }</style></head>
       |<body>$body</body></html>""".stripMargin
  }

  /** Full deterministic generation of (truth, row) for one id.
    * `validated = false` skips the clean-doc validation loop (first
    * attempt is taken, expectedKeep is not meaningful) — use it only for
    * throughput benches where truth labels are not consumed. */
  def generate(id: Long, validated: Boolean = true): (PageTruth, PageRow) = {
    val rnd = new Random(mix(Seed ^ id))
    val lang = pickLang(rnd)
    val defect =
      if (rnd.nextDouble() < 0.25) defects(rnd.nextInt(defects.length)) else "none"
    val nPii = if (rnd.nextDouble() < 0.35) 1 + rnd.nextInt(3) else 0
    val htmlOnly = defect == "none" && rnd.nextDouble() < 0.05
    val claimedLang =
      if (rnd.nextDouble() < 0.05)
        SeedCorpus.languages((SeedCorpus.languages.indexOf(lang) + 1) %
          SeedCorpus.languages.length)
      else lang
    val host = pickHost(rnd)
    val ts = new Timestamp(1735689600000L + // 2025-01-01T00:00:00Z
      (id % 90) * 86400000L + (mix(id) & 0x7fffffffL) % 86400000L)
    val textSeedBase = rnd.nextLong()

    def attemptText(attempt: Int): String = {
      val r = new Random(textSeedBase + attempt)
      val base = cleanText(lang, r)
      val withDefect =
        if (defect == "none") base else applyDefect(base, defect, lang, r)
      plantPii(withDefect, nPii, r)
    }

    var text = attemptText(0)
    var expectedKeep = defect == "none"
    var validatedOk = false
    if (validated) {
      // validate: retry until the generated text realizes the INTENT
      // (clean -> keep, defect -> drop). html-only rows are validated on
      // the *extracted* text — the form the pipeline actually scores.
      def evalTextOf(t: String): String =
        if (htmlOnly) HtmlText.extract(wrapHtml(t, new Random(mix(id ^ 7))))
        else t
      var attempt = 0
      var ok = false
      while (!ok && attempt < 20) {
        // attempt 0 was already generated above — recomputing it doubled
        // the text-generation cost of every validated row (most docs
        // validate on the first attempt); attemptText is deterministic
        // per (id, attempt), so skipping the recompute is byte-identical
        if (attempt > 0) text = attemptText(attempt)
        val evalText = evalTextOf(text)
        ok =
          if (defect == "none") {
            // clean docs pass a STRICTER gate than the pipeline (margin:
            // ppl at 80% of the threshold, predicted == intended lang) so
            // marginal numeric drift can't flip a keep label
            val rules = Heuristics.evaluate(evalText, lang)
            // langid must see the same whitespace-normalized full_text the
            // pipeline scores (DocProcessor predicts on the rebuilt text;
            // n-grams spanning raw line breaks hash differently)
            val (pred, conf) = LangId.predict(Tokenizer.tokenize(evalText)._1)
            val ppl = NGramLM.perplexity(evalText, pred)
            Heuristics.keep(rules) && pred == lang && conf >= LangConfMin &&
              ppl <= PerplexityMax * 0.8
          } else {
            // defect docs must actually trip the pipeline (probabilistic
            // defects like non_alpha can land in the binomial tail where
            // no rule fires — retry with a fresh defect roll)
            !DocProcessor.process(evalText).keep
          }
        attempt += 1
      }
      expectedKeep =
        if (ok) defect == "none"
        // exhausted: label honestly with the PIPELINE's actual decision on
        // the final text (not the stricter generator gate, which would
        // call a pipeline-keepable marginal doc a drop)
        else DocProcessor.process(evalTextOf(text)).keep
      validatedOk = ok
    }

    val truth = PageTruth(id, lang, defect, expectedKeep, nPii, validatedOk)
    val row =
      if (htmlOnly)
        PageRow(s"https://$host/page/$id", ts,
          Some(wrapHtml(text, new Random(mix(id ^ 7)))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          None, claimedLang)
      else
        PageRow(s"https://$host/page/$id", ts, None, Some(text), claimedLang)
    (truth, row)
  }

  /** Distributed materialization: one deterministic row per id. */
  def pages(spark: SparkSession, n: Long, numPartitions: Int = 32,
            validated: Boolean = true): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .mapPartitions(_.map(id => generate(id, validated)._2))
      .toDF()
  }

  /** Ground-truth companion table (for the F1 gate and lineage tests). */
  def truths(spark: SparkSession, n: Long,
             numPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .mapPartitions(_.map(id => generate(id)._1))
      .toDF()
  }

  /** Pages and truth labels from ONE generation pass (see
    * [[PageWithTruth]]) — the synth-backed oracle queries read this
    * instead of calling pages() + truthTable() twice. */
  def pagesWithTruth(spark: SparkSession, n: Long,
                     numPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .mapPartitions(_.map { id =>
        val (t, r) = generate(id)
        PageWithTruth(r.url, r.warc_ts, r.html, r.text, r.lang, t.lang,
          t.defect, t.expectedKeep, t.nPii.toLong, t.validatedOk)
      })
      .toDF()
  }

  /** Url-keyed truth table — the dumpable oracle companion: the DuckDB
    * side reads this parquet and the construction-exact labels become the
    * expected values for the pipeline's keep / langid / perplexity gates
    * (see [[PageTruthRow]]). */
  def truthTable(spark: SparkSession, n: Long,
                 numPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long]
      .mapPartitions(_.map { id =>
        val (t, r) = generate(id)
        PageTruthRow(r.url, t.lang, t.defect, t.expectedKeep, t.nPii.toLong,
          t.validatedOk)
      })
      .toDF()
  }
}
