package graft.core

import java.util.Locale
import scala.collection.mutable

/** KenLM-style word trigram language model with stupid backoff
  * (Heafield 2011 for the hashed-n-gram storage layout; Brants et al. 2007
  * for stupid backoff — the standard web-scale simplification of Katz).
  *
  * Counts live in open-addressed Long→Int maps keyed by 64-bit FNV-1a
  * hashes of the joined token window (the KenLM "probing hash table" idea
  * re-expressed on JVM primitives, zero boxing on the hot path).
  *
  * One model per language, synthesized deterministically from
  * [[SeedCorpus]] (seed fixed, sequential math) — bit-identical scores
  * across JVMs and parallelism levels. Models are a few MB total and are
  * reached through the JVM-singleton / broadcast pattern (SURVEY §2.8).
  */
final class NGramLM private (
    val lang: String,
    uni: NGramLM.LongCounter,
    bi: NGramLM.LongCounter,
    tri: NGramLM.LongCounter,
    totalUnigrams: Long,
    vocabSize: Int) {

  import NGramLM._

  /** log10 P(w_i | w_{i-2}, w_{i-1}) with stupid backoff (alpha = 0.4).
    * h1 = hash(w_{i-1}), h12 = combined hash of (w_{i-2}, w_{i-1}). */
  private def logProb(h1: Long, h12: Long, w: Long): Double = {
    val cTri = tri.get(combine(h12, w))
    if (cTri > 0) {
      val cBi = bi.get(h12)
      if (cBi > 0) return math.log10(cTri.toDouble / cBi)
    }
    val cBi2 = bi.get(combine(h1, w))
    if (cBi2 > 0) {
      val cUni = uni.get(h1)
      if (cUni > 0) return Log10Alpha + math.log10(cBi2.toDouble / cUni)
    }
    val cW = uni.get(w)
    // add-one smoothed unigram floor
    2 * Log10Alpha + math.log10((cW + 1.0) / (totalUnigrams + vocabSize + 1.0))
  }

  /** Tokens are letter-normalized (punctuation stripped, lowercased by the
    * scorer) so sentence punctuation doesn't register as OOV. */
  def perplexityOfText(text: String): Double =
    perplexityOfWords(Tokenizer.words(text))

  /** Same scoring over pre-tokenized words (fused pipeline path).
    * Normalization (strip non-letters, lowercase) and FNV hashing are
    * fused into one allocation-free pass for ASCII words — bit-identical
    * hashes to `hashWord(w.filter(isLetter).toLowerCase(ROOT))`, which the
    * rare non-ASCII word still takes verbatim. Words with no letters are
    * skipped without advancing the n-gram context (same as the previous
    * filter(_.nonEmpty) pre-pass). */
  def perplexityOfWords(words: IndexedSeq[String]): Double = {
    var h2 = BosHash
    var h1 = BosHash
    var h12 = combine(BosHash, BosHash)
    var sum = 0.0
    var count = 0
    var wi = 0
    while (wi < words.length) {
      val word = words(wi)
      val h = NGramLM.normWordHash(word)
      // h == 0 is ambiguous (no letters, or a true hash of 0 — one word
      // in 2^64); the exact recheck keeps results identical either way
      if (h != 0L || word.exists(Character.isLetter)) {
        sum += logProb(h1, h12, h)
        h2 = h1; h1 = h; h12 = combine(h2, h1)
        count += 1
      }
      wi += 1
    }
    if (count == 0) PerplexityEmpty else math.pow(10.0, -sum / count)
  }
}

object NGramLM {

  final val PerplexityEmpty = 1e9
  private final val Log10Alpha = math.log10(0.4)
  private final val BosHash = hashWord("<s>")

  /** FNV-1a 64-bit of a word. */
  def hashWord(w: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      h = (h ^ (c & 0xff)) * 0x100000001b3L
      h = (h ^ ((c >> 8) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** FNV-1a hash of `word.filter(Character.isLetter).toLowerCase(ROOT)`,
    * or 0L when the word contains no letters — the scorer's per-word
    * normalization, fused into ONE char pass for ASCII words (the
    * previous form read every char twice). A word containing any
    * non-ASCII char takes the exact allocating path (rare on webtext);
    * the partial ASCII accumulation is discarded (high byte of an ASCII
    * letter is 0, so the chain is prefix-identical). NOTE the 0L
    * no-letters sentinel collides with a true hash of 0L — callers that
    * must distinguish recheck `word.exists(isLetter)` on 0L. */
  private[core] def normWordHash(word: String): Long = {
    var hasLetter = false
    var ascii = true
    var h = 0xcbf29ce484222325L
    var i = 0
    val wl = word.length
    while (ascii && i < wl) {
      val c = word.charAt(i)
      if (c < 128) {
        val lc = (c | 0x20).toChar
        if (lc >= 'a' && lc <= 'z') {
          hasLetter = true
          h = (h ^ (lc & 0xff)) * 0x100000001b3L
          h = (h ^ ((lc >> 8) & 0xff)) * 0x100000001b3L
        }
      } else ascii = false
      i += 1
    }
    if (!ascii) {
      hasLetter = false
      i = 0
      while (!hasLetter && i < wl) {
        if (Character.isLetter(word.charAt(i))) hasLetter = true
        i += 1
      }
      if (hasLetter)
        h = hashWord(word.filter(Character.isLetter).toLowerCase(Locale.ROOT))
    }
    if (hasLetter) h else 0L
  }

  /** Order-sensitive combination of two 64-bit hashes. */
  def combine(a: Long, b: Long): Long = {
    var h = a ^ 0x9e3779b97f4a7c15L
    h = (h ^ (b >>> 32)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (b & 0xffffffffL)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Minimal open-addressed Long→Int counter (power-of-two capacity).
    *
    * Layout: ONE interleaved array `slots` with `slots(2i) = key`,
    * `slots(2i+1) = count` — a probe touches a single cache line instead
    * of three (the previous keys/vals/used triple cost up to three cache
    * misses per `get`, and the scoring hot path does 3-5 gets per word).
    * Counts are always >= 1 once a key is added, so `slots(2i+1) != 0` IS
    * the occupancy test — no separate `used` array. Contents and results
    * are identical to the previous layout. */
  final class LongCounter(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2)
    private var slots = new Array[Long](cap * 2)
    private var size = 0

    private def idx(k: Long, c: Int): Int = (combine(k, 0x5bd1e995L) & (c - 1)).toInt

    def add(k: Long, v: Int): Unit = {
      if (size * 4 >= cap * 3) grow()
      var i = idx(k, cap)
      while (slots(2 * i + 1) != 0 && slots(2 * i) != k) i = (i + 1) & (cap - 1)
      if (slots(2 * i + 1) == 0) { slots(2 * i) = k; size += 1 }
      slots(2 * i + 1) += v
    }

    def get(k: Long): Int = {
      var i = idx(k, cap)
      while (slots(2 * i + 1) != 0) {
        if (slots(2 * i) == k) return slots(2 * i + 1).toInt
        i = (i + 1) & (cap - 1)
      }
      0
    }

    private def grow(): Unit = {
      val os = slots; val oc = cap
      cap <<= 1
      slots = new Array[Long](cap * 2); size = 0
      var i = 0
      while (i < oc) {
        if (os(2 * i + 1) != 0) add(os(2 * i), os(2 * i + 1).toInt)
        i += 1
      }
    }
  }

  /** Fit a trigram LM from a token stream. */
  def fit(lang: String, tokens: IndexedSeq[String]): NGramLM = {
    val uni = new LongCounter(1 << 12)
    val bi = new LongCounter(1 << 14)
    val tri = new LongCounter(1 << 16)
    val distinct = mutable.HashSet[Long]()
    var h2 = BosHash
    var h1 = BosHash
    var i = 0
    while (i < tokens.length) {
      val w = hashWord(tokens(i).toLowerCase(Locale.ROOT))
      uni.add(w, 1)
      bi.add(combine(h1, w), 1)
      tri.add(combine(combine(h2, h1), w), 1)
      distinct += w
      h2 = h1; h1 = w
      i += 1
    }
    // history-context counts for denominators
    uni.add(BosHash, 1)
    new NGramLM(lang, uni, bi, tri, tokens.length.toLong, distinct.size)
  }

  /** Per-language models, one deterministic fit per JVM. */
  lazy val models: Map[String, NGramLM] =
    SeedCorpus.languages.zipWithIndex.map { case (lang, li) =>
      lang -> fit(lang, SeedCorpus.corpus(lang, 60000, seed = 1000L + li))
    }.toMap

  /** Perplexity under the model of `lang` (unknown lang → en model). */
  def perplexity(text: String, lang: String): Double =
    models.getOrElse(lang, models("en")).perplexityOfText(text)

  /** Fused-path variant over pre-tokenized words. */
  def perplexityWords(words: IndexedSeq[String], lang: String): Double =
    models.getOrElse(lang, models("en")).perplexityOfWords(words)
}
