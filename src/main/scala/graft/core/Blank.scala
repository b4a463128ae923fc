package graft.core

/** The canonical blank-route whitespace set (Python `str.strip()`'s full
  * whitespace: ASCII controls + every Unicode space incl. NBSP and the
  * ideographic space U+3000) - ONE definition shared by the pipeline
  * route, the p1_branch_route query and its DuckDB oracle (which embed
  * [[Chars]] as a trim set: no regex-engine whitespace class, because
  * Java and RE2 disagree on U+000B and neither class matches U+00A0 or
  * U+3000), and the allocation-free
  * [[isBlankCodePoint]] predicate the pipeline hot path uses (a
  * `trim(chars)`-then-length formulation copies nearly the whole text
  * per row just to test emptiness). */
object Blank {

  final val Chars: String =
    " \t\n\u000B\f\r\u001C\u001D\u001E\u001F\u0085\u00A0" +
      "\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007" +
      "\u2008\u2009\u200A\u2028\u2029\u202F\u205F\u3000"

  // membership table over the (small) code-point range of Chars - every
  // member is <= U+3000, so one 12 KB boolean array answers membership
  private val table: Array[Boolean] = {
    val t = new Array[Boolean](0x3001)
    Chars.foreach(c => t(c) = true)
    t
  }

  @inline def isBlankCodePoint(cp: Int): Boolean =
    cp >= 0 && cp <= 0x3000 && table(cp)

  /** True iff every code point of `s` is in [[Chars]] (empty = blank) -
    * exactly `length(trim(s, Chars)) == 0`. */
  def isBlankString(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isBlankCodePoint(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }
}
