package graft.core

/** Result of the fused per-document pass (SURVEY §1.4 output row, minus
  * the pass-through columns). */
final case class DocResult(
    scrubbedText: String,
    matches: Vector[PiiMatch],
    nRedacted: Int,
    lang: String,
    langConf: Double,
    perplexity: Double,
    rules: Vector[RuleResult],
    keep: Boolean,
    error: Option[String])

/** Fused single-pass document processor: one tokenization feeds the PII
  * scan/join/scrub, the heuristics, and the LM; langid reads the rebuilt
  * full text. This is the hot path of the 100 TB pipeline — the unfused
  * stages (still available à la carte as expressions) each re-tokenize,
  * which costs ~1.5-2x at scale.
  *
  * Per-row fault isolation (SURVEY §2.7 O1, the reference's per-file
  * try/except at backend/pdf/PDFRedactor.py:39-43): any per-document
  * failure yields a row with `error` set and `keep = false` — one bad
  * document never fails a 100 TB stage.
  */
object DocProcessor {

  /** Pipeline-level rules appended after the heuristic set. */
  def pipelineRules(ppl: Double, conf: Double): Vector[RuleResult] = Vector(
    RuleResult("perplexity_max", ppl > Heuristics.PerplexityMax, ppl,
      Heuristics.PerplexityMax),
    RuleResult("lang_conf_min", conf < Heuristics.LangConfMin, conf,
      Heuristics.LangConfMin))

  /** [[process]] charging no stage times. */
  def process(text: String): DocResult = process(text, null)

  /** The fused pass over `text`. If `times` is not null, each stage's
    * wall time is charged to it, and the document is counted once its
    * five stages complete; a document that fails is not charged. */
  def process(text: String, times: StageTimes): DocResult =
    try {
      val t0 = System.nanoTime()
      val (full, wordArr, startArr) = Tokenizer.tokenizeArrays(text)
      val words: IndexedSeq[String] =
        scala.collection.immutable.ArraySeq.unsafeWrapArray(wordArr)
      val t1 = System.nanoTime()
      val matches = PiiDetector.extract(full)
      // token objects only exist for docs that matched something — the
      // span join and scrub are identities on a clean doc
      val (scrubbed, nRedacted) =
        if (matches.isEmpty) (full, 0)
        else {
          val labeled = PiiDetector.spanJoin(
            Tokenizer.tokensOf(wordArr, startArr), matches)
          (PiiDetector.scrub(full, labeled),
            labeled.count(_.detectedAs.isDefined))
        }
      val t2 = System.nanoTime()
      val (lang, conf) = LangId.predict(full)
      val t3 = System.nanoTime()
      val ppl = NGramLM.perplexityWords(words, lang)
      val t4 = System.nanoTime()
      val rules = Heuristics.evaluateWith(text, words, lang) ++
        pipelineRules(ppl, conf)
      val t5 = System.nanoTime()
      if (times != null) times.record(t0, t1, t2, t3, t4, t5)
      DocResult(scrubbed, matches,
        nRedacted, lang, conf, ppl, rules,
        keep = !rules.exists(_.fired), error = None)
    } catch {
      case e: Throwable =>
        DocResult("", Vector.empty, 0, "und", 0.0,
          NGramLM.PerplexityEmpty, Vector.empty, keep = false,
          error = Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }

  // Build the lazy models (LangId.profiles, NGramLM.models) with the
  // object, before any document is timed: otherwise each fresh JVM
  // charges their synthesis to the langid and perplexity stages of its
  // first document.
  process("Warm-up page. Write to jane.doe@example.com or call " +
    "555-867-5309.\nA second line of plain English text.", null)
}
