package graft.core

import java.util.Locale

/** Per-rule lineage record (SURVEY §1.4 output schema): which rule, whether
  * it fired (fired == drop signal), the measured value, the threshold. */
final case class RuleResult(rule: String, fired: Boolean,
                            value: Double, threshold: Double)

/** Gopher/C4-style document quality rules (Rae et al. 2021 App. A1.1;
  * Raffel et al. 2020 §2.2). Pure per-document functions — no cross-row
  * state, so the stage is embarrassingly parallel (SURVEY §2.11).
  *
  * Every rule emits a [[RuleResult]] into the output row's `rule_lineage`
  * array — lineage is first-class data, the graft analog of the reference's
  * `detected_as` token lineage (backend/pdf/PIIDetector.py:184-185,
  * SURVEY §2.7 O5). `keep` = no rule fired.
  *
  * Hot-path layout (this stage is ~half the fused pipeline's CPU): ONE
  * char pass over the text collects symbols, sentences, lorem/curly flags,
  * line shape, and line/paragraph duplicate mass (hash-identity, no
  * substring allocation); the 9 n-gram passes share a ThreadLocal
  * open-addressed counter cleared by generation stamps (zero per-doc
  * allocation); the stopword rule probes a per-language index map instead
  * of materializing the document's word set.
  */
object Heuristics {

  // Gopher word-count / word-shape thresholds
  final val MinWords = 50
  final val MaxWords = 100000
  final val MinMeanWordLen = 3.0
  final val MaxMeanWordLen = 10.0
  final val MaxSymbolWordRatio = 0.1
  final val MinAlphaWordRatio = 0.8
  final val MinStopwords = 2.0
  // Gopher line-shape thresholds
  final val MaxBulletLineRatio = 0.9
  final val MaxEllipsisLineRatio = 0.3
  // Gopher repetition thresholds
  final val MaxDupLineFraction = 0.30
  final val MaxDupParaFraction = 0.30
  final val MaxDupLineCharFraction = 0.20
  final val MaxDupParaCharFraction = 0.20
  final val MaxTopNGramCharFraction = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  final val MaxDupNGramCharFraction =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
  // C4 thresholds
  final val MinSentences = 3
  // pipeline-level rule thresholds (perplexity + langid confidence)
  final val PerplexityMax = 1500.0
  final val LangConfMin = 0.2

  /** C4-style badwords filter (Raffel et al. 2020 §2.2 drop pages with any
    * word on the public blocklist). This ships a small adult/spam-marker
    * stand-in — a production deployment swaps in the full public list; the
    * rule machinery (exact lowercased-token membership, occurrence count
    * in lineage, any-hit drop) is the real contract. */
  final val Blocklist: Set[String] = Set(
    "porn", "porno", "xxx", "viagra", "cialis", "nsfw", "hentai",
    "fetish", "escort", "jackpot", "casino")

  // ------------------------------------------------------------------
  // Shared single-pass text statistics
  // ------------------------------------------------------------------

  /** Everything the rules need from the raw text, one scan's worth. */
  final class TextStats {
    var symbolCount = 0
    var sentences = 0
    var hasLorem = false
    var hasCurly = false
    var nLines = 0
    var bulletLines = 0
    var ellipsisLines = 0
    var dupLines = 0
    var dupLineChars = 0L
    var totalLineChars = 0L
    var nParas = 0
    var dupParas = 0
    var dupParaChars = 0L
    var totalParaChars = 0L
  }

  /** One pass over chars (symbols / sentences / lorem / curly) + one pass
    * over '\n' line segments + one pass over "\n\n" paragraph segments.
    * Line/paragraph identity is a 64-bit FNV over the trimmed region — no
    * substring or set-of-strings allocation. Semantics match the previous
    * split/trim/HashSet formulation exactly (modulo 64-bit collisions). */
  def scanText(text: String): TextStats = {
    val st = new TextStats
    val n = text.length
    val s = scratch.get()
    // line segmentation is FUSED into the char pass (one pass fewer):
    // '\n' hits no other branch, and the "..." two-char skip can never
    // jump over a '\n' (only '.' chars are skipped)
    s.newTable(math.max(16, n / 16))
    var segStart = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '#' || c == '…') st.symbolCount += 1
      if (c == '.') {
        // "..." counts as one ellipsis symbol but three sentence marks
        // (the previous code used separate loops with and without skip)
        if (i + 2 < n && text.charAt(i + 1) == '.' && text.charAt(i + 2) == '.') {
          st.symbolCount += 1
          st.sentences += 3
          i += 2
        } else st.sentences += 1
      } else if (c == '!' || c == '?' || c == '。') st.sentences += 1
      else if (c == '{') st.hasCurly = true
      else if (c == '\n') {
        statLine(text, segStart, i, st, s)
        segStart = i + 1
      }
      else if ((c == 'l' || c == 'L') && !st.hasLorem &&
          text.regionMatches(true, i, "lorem ipsum", 0, 11))
        st.hasLorem = true
      i += 1
    }
    statLine(text, segStart, n, st, s) // final segment (old i == n case)

    // paragraph segments between literal "\n\n" (left-to-right,
    // non-overlapping — same segmentation as String.split("\n\n"))
    s.newTable(math.max(16, n / 64))
    var from = 0
    var more = true
    while (more) {
      val idx = text.indexOf("\n\n", from)
      val end = if (idx < 0) n else idx
      statPara(text, from, end, st, s)
      if (idx < 0) more = false else from = idx + 2
    }
    st
  }

  private def trimStart(text: String, a: Int, b: Int): Int = {
    var s = a
    while (s < b && text.charAt(s) <= ' ') s += 1
    s
  }
  private def trimEnd(text: String, a: Int, b: Int): Int = {
    var e = b
    while (e > a && text.charAt(e - 1) <= ' ') e -= 1
    e
  }
  private def fnvRegion(text: String, a: Int, b: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = a
    while (i < b) { h = (h ^ text.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  private def statLine(text: String, a: Int, b: Int, st: TextStats,
                       s: Scratch): Unit = {
    val ts = trimStart(text, a, b)
    val te = trimEnd(text, ts, b)
    val len = te - ts
    if (len > 0) {
      st.nLines += 1
      st.totalLineChars += len
      val c0 = text.charAt(ts)
      if (c0 == '•' || (len >= 2 && text.charAt(ts + 1) == ' ' &&
          (c0 == '-' || c0 == '*'))) st.bulletLines += 1
      if (text.charAt(te - 1) == '…' ||
          (len >= 3 && text.charAt(te - 1) == '.' &&
            text.charAt(te - 2) == '.' && text.charAt(te - 3) == '.'))
        st.ellipsisLines += 1
      if (!s.addSeen(fnvRegion(text, ts, te))) {
        st.dupLines += 1
        st.dupLineChars += len
      }
    }
  }

  private def statPara(text: String, a: Int, b: Int, st: TextStats,
                       s: Scratch): Unit = {
    val ts = trimStart(text, a, b)
    val te = trimEnd(text, ts, b)
    val len = te - ts
    if (len > 0) {
      st.nParas += 1
      st.totalParaChars += len
      if (!s.addSeen(fnvRegion(text, ts, te))) {
        st.dupParas += 1
        st.dupParaChars += len
      }
    }
  }

  // ------------------------------------------------------------------
  // Fused per-word scan
  // ------------------------------------------------------------------

  /** Scalar aggregates of the fused per-word pass. */
  private final class WordAgg {
    var lenSum = 0L       // original word lengths
    var alphaWords = 0    // words containing any letter
    var stopCount = 0     // DISTINCT stopwords present (per-language list)
    var blockCount = 0    // blocklist occurrences (not distinct)
  }

  /** ONE char pass per word computing everything the rules need:
    * the FNV hash and length of the LOWERCASED word (into `s.wHash` /
    * `s.lenPrefix` for the n-gram rules — bit-identical to
    * `NGramLM.hashWord(w.toLowerCase(ROOT))` by construction), the
    * original length / any-letter flag (basic rules), and the
    * stopword/blocklist membership probes — with NO per-word string
    * allocation on the common path. The previous formulation allocated a
    * lowered copy of every word (`ws.map(_.toLowerCase)`) and probed a
    * String-keyed HashMap per word.
    *
    * Per-char lowering matches String.toLowerCase(Locale.ROOT) except for
    * surrogate pairs, U+0130 (one-to-many) and U+03A3 (final sigma) —
    * words containing those take the exact allocating path. Membership
    * probes verify char equality on hash hit, so 64-bit collisions cannot
    * change results. */
  private def scanWordsInto(ws: IndexedSeq[String], lang: String,
                            s: Scratch): WordAgg = {
    val n = ws.length
    s.ensureWords(n)
    val stopProbe = probeFor(lang)
    val seen = new Array[Boolean](math.max(1, stopProbe.n))
    val agg = new WordAgg
    val wHash = s.wHash
    val lenPrefix = s.lenPrefix
    var wi = 0
    while (wi < n) {
      val w = ws(wi)
      val wl = w.length
      agg.lenSum += wl
      var buf = s.ensureWbuf(wl)
      var alpha = false
      var danger = false
      var h = 0xcbf29ce484222325L
      var lowLen = 0
      var i = 0
      while (!danger && i < wl) {
        val c = w.charAt(i)
        var lc = c
        if (c < 0x80) {
          if (c >= 'A' && c <= 'Z') lc = (c + 32).toChar
          if (!alpha && (lc >= 'a' && lc <= 'z')) alpha = true
        } else if (Character.isSurrogate(c) || c == '\u0130' || c == '\u03a3') {
          danger = true
        } else {
          lc = Character.toLowerCase(c)
          if (!alpha && Character.isLetter(c)) alpha = true
        }
        if (!danger) {
          h = (h ^ (lc & 0xff)) * 0x100000001b3L
          h = (h ^ ((lc >> 8) & 0xff)) * 0x100000001b3L
          buf(lowLen) = lc
          lowLen += 1
          i += 1
        }
      }
      if (danger) { // rare: exact reference path for this word
        val lw = w.toLowerCase(Locale.ROOT)
        h = NGramLM.hashWord(lw)
        lowLen = lw.length
        buf = s.ensureWbuf(lowLen)
        lw.getChars(0, lowLen, buf, 0)
        alpha = false
        var j = 0
        while (!alpha && j < wl) {
          if (Character.isLetter(w.charAt(j))) alpha = true
          j += 1
        }
      }
      if (alpha) agg.alphaWords += 1
      wHash(wi) = h
      lenPrefix(wi + 1) = lenPrefix(wi) + lowLen
      val sid = stopProbe.lookup(h, buf, lowLen)
      if (sid >= 0 && !seen(sid)) { seen(sid) = true; agg.stopCount += 1 }
      if (blockProbe.lookup(h, buf, lowLen) >= 0) agg.blockCount += 1
      wi += 1
    }
    agg
  }

  /** Test hook: the fused word scan's per-word outputs
    * (loweredHash, loweredLen arrays + the scalar aggregates) for
    * differential comparison against the reference formulation. */
  private[core] def wordScanForTest(ws: IndexedSeq[String], lang: String)
      : (Array[Long], Array[Int], Long, Int, Int, Int) = {
    val s = scratch.get()
    val agg = scanWordsInto(ws, lang, s)
    val lens = Array.tabulate(ws.length)(i =>
      s.lenPrefix(i + 1) - s.lenPrefix(i))
    (s.wHash.take(ws.length), lens, agg.lenSum, agg.alphaWords,
      agg.stopCount, agg.blockCount)
  }

  /** Open-addressed lowered-word membership table probed by the fused
    * scan's (hash, char-buffer) pair — hash hit is VERIFIED by char
    * equality, so results equal the previous String-keyed HashMap. */
  private final class LowerWordProbe(words: Seq[String]) {
    val n: Int = words.size
    private val cap = Integer.highestOneBit(math.max(8, n) * 4)
    private val mask = cap - 1
    private val hashes = new Array[Long](cap)
    private val ids = new Array[Int](cap)
    private val strs = new Array[String](cap)
    java.util.Arrays.fill(ids, -1)
    words.zipWithIndex.foreach { case (w, id) =>
      val h = NGramLM.hashWord(w)
      var i = (NGramLM.combine(h, 0x9e3779b97f4a7c15L) & mask).toInt
      while (ids(i) >= 0) i = (i + 1) & mask
      hashes(i) = h; ids(i) = id; strs(i) = w
    }
    def lookup(h: Long, buf: Array[Char], len: Int): Int = {
      var i = (NGramLM.combine(h, 0x9e3779b97f4a7c15L) & mask).toInt
      while (ids(i) >= 0) {
        if (hashes(i) == h) {
          val sw = strs(i)
          if (sw.length == len) {
            var j = 0
            while (j < len && sw.charAt(j) == buf(j)) j += 1
            if (j == len) return ids(i)
          }
        }
        i = (i + 1) & mask
      }
      -1
    }
  }

  private val blockProbe = new LowerWordProbe(Blocklist.toSeq.sorted)

  /** Rules expressible with plain string/arithmetic ops — the
    * lang-independent subset is mirrored in the DuckDB oracle SQL
    * (SURVEY §5.4.4). The stopword rule is lang-aware: the Gopher list for
    * en, vocab-head function words otherwise (English stopwords would drop
    * every non-English page). */
  private def basicRulesFrom(n: Int, agg: WordAgg,
                             st: TextStats): Vector[RuleResult] = {
    val lenSum = agg.lenSum
    val alphaWords = agg.alphaWords
    val stopCount = agg.stopCount
    val blockCount = agg.blockCount
    val meanWordLen = if (n == 0) 0.0 else lenSum.toDouble / n
    val symbolRatio = if (n == 0) 0.0 else st.symbolCount.toDouble / n
    val alphaRatio = if (n == 0) 0.0 else alphaWords.toDouble / n

    val hasLorem = if (st.hasLorem) 1.0 else 0.0
    val hasCurly = if (st.hasCurly) 1.0 else 0.0

    Vector(
      RuleResult("word_count_min", n < MinWords, n.toDouble, MinWords.toDouble),
      RuleResult("word_count_max", n > MaxWords, n.toDouble, MaxWords.toDouble),
      RuleResult("mean_word_length_min", n > 0 && meanWordLen < MinMeanWordLen,
        meanWordLen, MinMeanWordLen),
      RuleResult("mean_word_length_max", meanWordLen > MaxMeanWordLen,
        meanWordLen, MaxMeanWordLen),
      RuleResult("symbol_to_word_ratio", symbolRatio > MaxSymbolWordRatio,
        symbolRatio, MaxSymbolWordRatio),
      RuleResult("alpha_word_ratio", n > 0 && alphaRatio < MinAlphaWordRatio,
        alphaRatio, MinAlphaWordRatio),
      RuleResult("stopword_count", stopCount < MinStopwords, stopCount.toDouble,
        MinStopwords),
      RuleResult("lorem_ipsum", hasLorem > 0, hasLorem, 0.0),
      RuleResult("curly_brace", hasCurly > 0, hasCurly, 0.0),
      // C4 badwords semantics: ANY occurrence drops the page; the lineage
      // value carries the occurrence count for corpus diagnostics
      RuleResult("blocklist_hit", blockCount > 0, blockCount.toDouble, 0.0),
      RuleResult("min_sentence_count", st.sentences < MinSentences,
        st.sentences.toDouble, MinSentences.toDouble))
  }

  // bounded: lang is caller data on real webtext (dirty values like
  // "en-US", junk) — never let an unbounded key space pin one probe table
  // per distinct string for the executor's lifetime
  private val stopwordProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, LowerWordProbe]()
  private def buildStopProbe(lang: String): LowerWordProbe =
    new LowerWordProbe(SeedCorpus.stopwordsFor(lang).toSeq)
  private def probeFor(lang: String): LowerWordProbe =
    if (stopwordProbeCache.size > 64 && !stopwordProbeCache.containsKey(lang))
      buildStopProbe(lang) // uncached beyond the bound (per-call, GC'd)
    else stopwordProbeCache.computeIfAbsent(lang, buildStopProbe(_))

  /** Line-shape rules (lines split on '\n'; blank lines excluded). */
  private def lineRulesFrom(st: TextStats): Vector[RuleResult] = {
    val n = st.nLines
    val bullet = if (n == 0) 0.0 else st.bulletLines.toDouble / n
    val ellipsis = if (n == 0) 0.0 else st.ellipsisLines.toDouble / n
    Vector(
      RuleResult("bullet_line_ratio", bullet > MaxBulletLineRatio, bullet,
        MaxBulletLineRatio),
      RuleResult("ellipsis_line_ratio", ellipsis > MaxEllipsisLineRatio,
        ellipsis, MaxEllipsisLineRatio))
  }

  /** Gopher repetition rules: duplicate lines/paragraphs (count and char
    * mass) + top/duplicated word n-gram char fractions. Definitions:
    *
    *   - dup_line_fraction: lines identical to an earlier line / lines
    *   - dup_line_char_fraction: chars of those lines / total line chars
    *   - top_k_gram_char_fraction: occurrences(most frequent k-gram) x
    *     chars(k-gram incl. separators) / chars(full_text)
    *   - dup_k_gram_char_fraction: sum over k-grams with count >= 2 of
    *     count x chars / chars(full_text), capped at 1.0
    *
    * The n-gram rules read the PRE-FILLED `s.wHash`/`s.lenPrefix` arrays
    * (one fused fill shared with the basic rules — see
    * [[scanWordsInto]]). */
  private def repetitionRulesFrom(text: String, nW: Int,
                                  st: TextStats,
                                  s: Scratch): Vector[RuleResult] = {
    val out = Vector.newBuilder[RuleResult]

    def frac(num: Long, den: Long): Double =
      if (den == 0) 0.0 else num.toDouble / den
    val dupLineFrac = frac(st.dupLines, st.nLines)
    val dupLineCharFrac = frac(st.dupLineChars, st.totalLineChars)
    val dupParaFrac = frac(st.dupParas, st.nParas)
    val dupParaCharFrac = frac(st.dupParaChars, st.totalParaChars)
    out += RuleResult("dup_line_fraction", dupLineFrac > MaxDupLineFraction,
      dupLineFrac, MaxDupLineFraction)
    out += RuleResult("dup_para_fraction", dupParaFrac > MaxDupParaFraction,
      dupParaFrac, MaxDupParaFraction)
    out += RuleResult("dup_line_char_fraction",
      dupLineCharFrac > MaxDupLineCharFraction, dupLineCharFrac,
      MaxDupLineCharFraction)
    out += RuleResult("dup_para_char_fraction",
      dupParaCharFrac > MaxDupParaCharFraction, dupParaCharFrac,
      MaxDupParaCharFraction)

    val totalChars = math.max(1, text.length).toDouble
    // hash + length of every word, computed once upstream (9 n-gram
    // passes reuse these primitive arrays — no per-pass re-hashing);
    // prefix sums let the sliding window read each word once per k
    val wHash = s.wHash
    val lenPrefix = s.lenPrefix

    def ngramStats(k: Int): (Long, Long, Double) = {
      // returns (maxCount, maxCountLen, dupCharMass)
      if (nW < k) return (0L, 0L, 0.0)
      s.newTable(math.max(16, nW))
      // slideable polynomial rolling hash over the word-hash sequence:
      // h_i = sum wHash(i+j) * P^(k-1-j); O(1) per slide instead of O(k)
      val P = 0x100000001b3L
      var pK = 1L // P^(k-1)
      var j = 1
      while (j < k) { pK *= P; j += 1 }
      var h = 0L
      var i = 0
      while (i < k) { h = h * P + wHash(i); i += 1 }
      s.addCount(NGramLM.combine(h, k.toLong),
        lenPrefix(k) - lenPrefix(0) + (k - 1))
      i = k
      while (i < nW) {
        h = (h - wHash(i - k) * pK) * P + wHash(i)
        s.addCount(NGramLM.combine(h, k.toLong),
          lenPrefix(i + 1) - lenPrefix(i + 1 - k) + (k - 1))
        i += 1
      }
      s.countStats()
    }

    (2 to 4).foreach { k =>
      val (maxC, maxLen, _) = ngramStats(k)
      val top =
        if (maxC < 2) 0.0
        else math.min(1.0, maxC.toDouble * maxLen / totalChars)
      val t = MaxTopNGramCharFraction(k)
      out += RuleResult(s"top_${k}gram_char_fraction", top > t, top, t)
    }
    (5 to 10).foreach { k =>
      val (_, _, dupChars) = ngramStats(k)
      val v = math.min(1.0, dupChars / totalChars)
      val t = MaxDupNGramCharFraction(k)
      out += RuleResult(s"dup_${k}gram_char_fraction", v > t, v, t)
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // ThreadLocal scratch: one open-addressed Long table reused by every
  // per-doc pass (line dups, para dups, 9 n-gram counters). Clearing is a
  // generation stamp, not an array fill; growth is monotone per thread.
  // Value layout for counts: count << 20 | charLen (charLen clamped to
  // 2^20-1). Deterministic top-gram tie-break: (count, len, -key) —
  // matches the original HashMap maxBy ordering.
  // ------------------------------------------------------------------
  private final class Scratch {
    var cap = 2048
    var keys = new Array[Long](cap)
    var vals = new Array[Long](cap)
    var gen = new Array[Int](cap)
    var curGen = 0
    var mask = cap - 1
    // slots filled in the current generation — countStats() walks this
    // log, not the table, so one huge doc cannot tax every later doc on
    // the thread with a full-capacity scan
    var touched = new Array[Int](2048)
    var nTouched = 0
    var wHash = new Array[Long](256)
    var lenPrefix = new Array[Int](257)
    // lowered-word char buffer for the fused word scan's membership probes
    var wbuf = new Array[Char](64)

    def ensureWords(n: Int): Unit =
      if (wHash.length < n) {
        wHash = new Array[Long](Integer.highestOneBit(n) * 2)
        lenPrefix = new Array[Int](wHash.length + 1)
      }

    def ensureWbuf(n: Int): Array[Char] = {
      if (wbuf.length < n)
        wbuf = new Array[Char](Integer.highestOneBit(math.max(1, n)) * 2)
      wbuf
    }

    private var sizeGen = 0

    // retain at most ~16 MB of table after a pathological document so one
    // huge page cannot pin executor memory for the thread's lifetime
    private val MaxRetainedCap = 1 << 19

    /** Fresh logical table with room for `entries` at <= 50% load (a hint
      * only — the table grows with rehash if the hint was low). */
    def newTable(entries: Int): Unit = {
      val need = Integer.highestOneBit(math.max(8, entries)) * 4
      if (need > cap || (cap > MaxRetainedCap && need <= MaxRetainedCap)) {
        cap = math.max(need, 2048)
        keys = new Array[Long](cap)
        vals = new Array[Long](cap)
        gen = new Array[Int](cap)
        mask = cap - 1
        curGen = 0
      }
      if (touched.length < entries + 8)
        touched = new Array[Int](Integer.highestOneBit(entries + 8) * 2)
      nTouched = 0
      sizeGen = 0
      if (curGen == Int.MaxValue) { // stamp wrap: ~2^32 tables per thread
        java.util.Arrays.fill(gen, 0)
        curGen = 0
      }
      curGen += 1
    }

    private def growRehash(): Unit = {
      val ok = keys; val ov = vals; val og = gen; val oc = cap
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap)
      vals = new Array[Long](cap)
      gen = new Array[Int](cap)
      if (touched.length < cap / 2 + 8) {
        val nt = new Array[Int](cap / 2 + 8)
        touched = nt
      }
      nTouched = 0
      var i = 0
      while (i < oc) {
        if (og(i) == curGen) {
          var j = (NGramLM.combine(ok(i), 0x27d4eb2f165667c5L) & mask).toInt
          while (gen(j) == curGen) j = (j + 1) & mask
          gen(j) = curGen
          keys(j) = ok(i)
          vals(j) = ov(i)
          touched(nTouched) = j
          nTouched += 1
        }
        i += 1
      }
    }

    private def slot(k: Long): Int = {
      var i = (NGramLM.combine(k, 0x27d4eb2f165667c5L) & mask).toInt
      while (gen(i) == curGen && keys(i) != k) i = (i + 1) & mask
      i
    }

    /** true if k was NOT in the current-generation set (and adds it). */
    def addSeen(k: Long): Boolean = {
      if (sizeGen * 2 >= cap) growRehash()
      val i = slot(k)
      if (gen(i) != curGen) {
        gen(i) = curGen; keys(i) = k; sizeGen += 1; true
      } else false
    }

    def addCount(k: Long, len: Int): Unit = {
      if (sizeGen * 2 >= cap) growRehash()
      val i = slot(k)
      if (gen(i) != curGen) {
        gen(i) = curGen
        keys(i) = k
        vals(i) = (1L << 20) | math.min(len, 0xFFFFF).toLong
        touched(nTouched) = i
        nTouched += 1
        sizeGen += 1
      } else vals(i) += (1L << 20)
    }

    /** (maxCount, lenOfMax, dupCharMass) with deterministic max tie-break. */
    def countStats(): (Long, Long, Double) = {
      var maxC = 0L
      var maxLen = 0L
      var maxKey = 0L
      var dup = 0.0
      var t = 0
      while (t < nTouched) {
        val i = touched(t)
        val c = vals(i) >>> 20
        val l = vals(i) & 0xFFFFF
        if (c > maxC || (c == maxC && (l > maxLen ||
            (l == maxLen && keys(i) < maxKey)))) {
          maxC = c; maxLen = l; maxKey = keys(i)
        }
        if (c >= 2) dup += c.toDouble * l
        t += 1
      }
      (maxC, maxLen, dup)
    }
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** All heuristic rules, fixed order (stable lineage schema).
    * Tokenizes once; pass precomputed words via [[evaluateWith]] to share
    * the tokenization with other stages (fused pipeline). */
  def evaluate(text: String, lang: String = "en"): Vector[RuleResult] =
    evaluateWith(text, Tokenizer.words(text), lang)

  def evaluateWith(text: String, words: IndexedSeq[String],
                   lang: String): Vector[RuleResult] = {
    val st = scanText(text)
    val s = scratch.get()
    // ONE fused per-word pass feeds basic AND n-gram rules (previously:
    // a lowered copy of every word, a String HashMap probe per word, and
    // a separate re-hash pass for the n-gram rules)
    val agg = scanWordsInto(words, lang, s)
    basicRulesFrom(words.length, agg, st) ++ lineRulesFrom(st) ++
      repetitionRulesFrom(text, words.length, st, s)
  }

  def keep(rules: Seq[RuleResult]): Boolean = !rules.exists(_.fired)
}
