package graft.core

import java.util.Locale

/** fastText-style language identifier (Joulin et al. 2016, "Bag of Tricks
  * for Efficient Text Classification").
  *
  * Character n-grams (n = 2..4) over the lowercased text with boundary
  * padding, hashed into B buckets (FNV-1a, hashing trick), scored against
  * per-language log-probability profiles (multinomial NB — the linear
  * classifier degenerate case of fastText with closed-form fit), softmax
  * for confidence.
  *
  * The model is synthesized deterministically at object init from the
  * embedded [[SeedCorpus]] — no external data, fixed seed, pure sequential
  * float math (SURVEY §7.5.4), so scores are bit-identical across JVMs and
  * parallelism levels.
  *
  * Hot-path design for the 100 TB case: scoring reuses a thread-local
  * scratch histogram and only walks the buckets the document actually
  * touched (typically ~1-3k of 2^15) — zero per-row allocation of the
  * histogram and no full-table scans. The profile table (5 langs x 2^15
  * floats ~ 640 KB) is JVM-singleton state initialized once per executor
  * (the broadcast pattern of SURVEY §2.8 without task-closure shipping).
  */
object LangId {

  final val Buckets = 1 << 15
  private final val BucketMask = Buckets - 1

  val languages: IndexedSeq[String] = SeedCorpus.languages

  /** Reusable per-thread histogram: counts + insertion-ordered touched
    * list, reset by touched indices (never a full 128 KB clear). */
  private final class Scratch {
    val counts = new Array[Int](Buckets)
    var touched = new Array[Int](4096)
    var nTouched = 0
    def add(b: Int): Unit = {
      if (counts(b) == 0) {
        if (nTouched == touched.length)
          touched = java.util.Arrays.copyOf(touched, touched.length * 2)
        touched(nTouched) = b
        nTouched += 1
      }
      counts(b) += 1
    }
    def reset(): Unit = {
      var i = 0
      while (i < nTouched) { counts(touched(i)) = 0; i += 1 }
      nTouched = 0
    }
  }

  private val scratchTL = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  @inline private def fnvStep(h: Int, c: Char): Int = {
    var x = (h ^ (c & 0xff)) * 0x01000193
    x = (x ^ ((c >> 8) & 0xff)) * 0x01000193
    x
  }

  /** Reference n-gram accumulation: materializes the padded lowercased
    * text, then hashes. Kept as the exact fallback for texts containing
    * chars whose String.toLowerCase mapping is not per-char (see
    * [[countNGrams]]); bucket values are identical on both paths. */
  private def countNGramsExact(text: String, acc: Scratch): Long = {
    val padded = new java.lang.StringBuilder(text.length + 2)
      .append('<').append(text.toLowerCase(Locale.ROOT)).append('>')
    val len = padded.length
    var total = 0L
    var i = 0
    while (i < len - 1) {
      var h = fnvStep(fnvStep(0x811c9dc5, padded.charAt(i)), padded.charAt(i + 1))
      acc.add(h & BucketMask); total += 1 // 2-gram
      if (i + 2 < len) {
        h = fnvStep(h, padded.charAt(i + 2))
        acc.add(h & BucketMask); total += 1 // 3-gram
        if (i + 3 < len) {
          h = fnvStep(h, padded.charAt(i + 3))
          acc.add(h & BucketMask); total += 1 // 4-gram
        }
      }
      i += 1
    }
    total
  }

  /** A char whose presence forces the exact path: String.toLowerCase is
    * NOT the per-char Character.toLowerCase for (a) surrogate pairs
    * (supplementary-plane case mappings), (b) U+0130 İ (one-to-many:
    * lowers to "i" + combining dot), (c) U+03A3 Σ (context-sensitive
    * final sigma). Everything else maps per-char under Locale.ROOT. */
  @inline private def lowerUnsafe(c: Char): Boolean =
    Character.isSurrogate(c) || c == '\u0130' || c == '\u03a3'

  /** Lowered char of the virtual padded view ([0] = '<', [len-1] = '>')
    * as an Int, or -1 when the char at that position is [[lowerUnsafe]]. */
  @inline private def lowerAt(text: String, i: Int, len: Int): Int = {
    if (i == 0) '<'
    else if (i == len - 1) '>'
    else {
      val c = text.charAt(i - 1)
      if (c < 0x80) { if (c >= 'A' && c <= 'Z') c + 32 else c.toInt }
      else if (lowerUnsafe(c)) -1
      else Character.toLowerCase(c).toInt
    }
  }

  /** Accumulate hashed n-gram counts of padded lowercase `text`; returns
    * total n-grams. Single pass: FNV-1a is prefix-incremental, so the
    * 2/3/4-gram buckets at each position share one hash chain (identical
    * bucket values to the per-size loops, 3x fewer char-hash ops).
    *
    * Allocation-free on the common path: instead of materializing
    * `'<' + text.toLowerCase + '>'` (two full-text copies per document),
    * a rolling 4-char window of per-char-lowered padded chars feeds the
    * hash chain. On the first char where per-char lowering could diverge
    * from String.toLowerCase ([[lowerUnsafe]]) the accumulated state is
    * reset and the exact path rerun — bucket counts are identical either
    * way, so scores are bit-identical to the previous implementation. */
  private def countNGrams(text: String, acc: Scratch): Long = {
    val n = text.length
    val len = n + 2 // virtual padded length
    var total = 0L
    // rolling window: w0..w3 = lowered padded chars at i..i+3 (-1 = bail
    // to the exact path; 0 = beyond end, never read by the gram guards)
    var w0 = lowerAt(text, 0, len)
    var w1 = if (len > 1) lowerAt(text, 1, len) else 0
    var w2 = if (len > 2) lowerAt(text, 2, len) else 0
    var w3 = if (len > 3) lowerAt(text, 3, len) else 0
    var i = 0
    var bail = (w1 | w2 | w3) < 0
    while (!bail && i < len - 1) {
      var h = fnvStep(fnvStep(0x811c9dc5, w0.toChar), w1.toChar)
      acc.add(h & BucketMask); total += 1 // 2-gram
      if (i + 2 < len) {
        h = fnvStep(h, w2.toChar)
        acc.add(h & BucketMask); total += 1 // 3-gram
        if (i + 3 < len) {
          h = fnvStep(h, w3.toChar)
          acc.add(h & BucketMask); total += 1 // 4-gram
        }
      }
      i += 1
      w0 = w1; w1 = w2; w2 = w3
      if (i + 3 < len) {
        w3 = lowerAt(text, i + 3, len)
        if (w3 < 0) bail = true
      }
    }
    if (bail) { // rare: discard partial state, rerun exactly
      acc.reset()
      countNGramsExact(text, acc)
    } else total
  }

  /** Test hook: the (total, bucket→count) accumulation of the fast path
    * vs the exact reference path — the two must be identical on every
    * input (the bit-exactness claim of the round-6 alloc-free rewrite). */
  private[core] def bucketCountsForTest(text: String,
                                        exact: Boolean): (Long, Map[Int, Int]) = {
    val sc = new Scratch
    val total =
      if (exact) countNGramsExact(text, sc) else countNGrams(text, sc)
    val m = (0 until sc.nTouched)
      .map(i => sc.touched(i) -> sc.counts(sc.touched(i))).toMap
    (total, m)
  }

  /** Per-language log-prob profiles, built once per JVM. */
  lazy val profiles: Array[Array[Float]] = {
    languages.zipWithIndex.map { case (lang, li) =>
      val scratch = new Scratch
      // 40k words of deterministic pseudo-corpus per language.
      val text = SeedCorpus.corpus(lang, 40000, seed = 42L + li).mkString(" ")
      val total = countNGrams(text, scratch)
      val w = new Array[Float](Buckets)
      val denom = math.log(total.toDouble + 0.5 * Buckets)
      var b = 0
      while (b < Buckets) {
        w(b) = (math.log(scratch.counts(b) + 0.5) - denom).toFloat
        b += 1
      }
      w
    }.toArray
  }

  /** Bucket-major interleaved copy of [[profiles]]
    * (`[b * nLangs + li]`): the scoring loop reads all languages' weights
    * for one bucket from a single cache line instead of five random
    * positions in five 128 KB arrays. Same floats — scores bit-identical. */
  private lazy val profilesInterleaved: Array[Float] = {
    val p = profiles
    val nLangs = p.length
    val out = new Array[Float](Buckets * nLangs)
    var b = 0
    while (b < Buckets) {
      var li = 0
      while (li < nLangs) { out(b * nLangs + li) = p(li)(b); li += 1 }
      b += 1
    }
    out
  }

  /** Predict (language, confidence) for a text. Empty/blank → ("und", 0.0). */
  def predict(text: String): (String, Double) = {
    // isBlank, not just isEmpty: whitespace-only text would otherwise be
    // padded to "< ... >" and scored against real n-gram profiles,
    // returning an arbitrary language with nonzero confidence
    if (text == null || text.isBlank) return ("und", 0.0)
    val profs = profilesInterleaved
    val scratch = scratchTL.get()
    try {
      val total = countNGrams(text, scratch)
      if (total == 0) return ("und", 0.0)
      val nLangs = languages.length
      val scores = new Array[Double](nLangs)
      var ti = 0
      while (ti < scratch.nTouched) {
        val b = scratch.touched(ti)
        val c = scratch.counts(b)
        val base = b * nLangs
        var li = 0
        while (li < nLangs) {
          scores(li) += c * profs(base + li)
          li += 1
        }
        ti += 1
      }
      var li = 0
      while (li < nLangs) { scores(li) /= total; li += 1 }
      // softmax over mean log-probs, temperature tuned for spread
      var maxS = scores(0)
      li = 1
      while (li < nLangs) { if (scores(li) > maxS) maxS = scores(li); li += 1 }
      var z = 0.0
      val temp = 8.0
      val ex = new Array[Double](nLangs)
      li = 0
      while (li < nLangs) {
        ex(li) = math.exp((scores(li) - maxS) * temp)
        z += ex(li)
        li += 1
      }
      var best = 0
      li = 1
      while (li < nLangs) { if (scores(li) > scores(best)) best = li; li += 1 }
      (languages(best), ex(best) / z)
    } finally scratch.reset()
  }
}
