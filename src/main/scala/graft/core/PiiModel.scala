package graft.core

/** PII label taxonomy.
  *
  * The label strings are the lineage values the reference writes into
  * detected tokens (reference: backend/pdf/DocumentData.py:6-20, used at
  * backend/pdf/PIIDetector.py:184-185). We keep them byte-identical for
  * parity. Order in [[PiiType.ordered]] is alternation precedence
  * (insertion order of the reference's pattern dict,
  * backend/pdf/PIIDetector.py:25-47): first-match-wins at a position.
  */
sealed abstract class PiiType(val name: String, val value: String)

object PiiType {
  case object Ssn               extends PiiType("SSN", "SSN")
  case object RoutingNumber     extends PiiType("ROUTING_NUMBER", "Routing Number")
  case object AccountNumber     extends PiiType("ACCOUNT_NUMBER", "Account Number")
  case object CreditScore       extends PiiType("CREDIT_SCORE", "Credit Score")
  case object CreditScoreRating extends PiiType("CREDIT_SCORE_RATING", "Credit Score Rating")
  case object CreditCardNumber  extends PiiType("CREDIT_CARD_NUMBER", "Credit Card Number")
  // Graft additions mandated by BASELINE.json (reference has these two
  // commented out at backend/pdf/PIIDetector.py:45-46; their exact regexes
  // are pinned by the stale suites backend/tests/test_PIIDetector.py:196-261).
  case object PhoneNumber       extends PiiType("PHONE_NUMBER", "Phone Number")
  case object Email             extends PiiType("EMAIL", "Email")
  case object Ipv4              extends PiiType("IPV4", "IP Address")

  /** Alternation precedence order — load-bearing (SURVEY §2.4). */
  val ordered: IndexedSeq[PiiType] = IndexedSeq(
    Ssn, RoutingNumber, AccountNumber, CreditScore, CreditScoreRating,
    CreditCardNumber, PhoneNumber, Email, Ipv4)

  def byName(n: String): PiiType = ordered.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown PiiType $n"))
}

/** One regex hit against a document's full text.
  *
  * Half-open char offsets `[start, end)` into the document-global
  * `full_text` (reference: backend/pdf/DocumentData.py:23-38). `text` is
  * the originally matched slice and is never re-sliced by refinement
  * (backend/pdf/PIIDetector.py:110-112) — kept verbatim for lineage.
  */
final case class PiiMatch(text: String, start: Int, end: Int, piiType: PiiType)

/** A word-token: a view (offset range) into the document's full text.
  *
  * Reference tokens carry a list of segments (Google OCR can split a token,
  * backend/pdf/DocumentData.py:56-68); the webtext tokenizer always emits
  * exactly one segment per token, so we store the single `[start, end)`
  * directly. `detectedAs` is the PII label value string, set at most once
  * during the span join (backend/pdf/PIIDetector.py:184-185).
  */
final case class WordToken(text: String, start: Int, end: Int,
                           detectedAs: Option[String] = None) {

  /** Half-open interval overlap (reference: backend/pdf/DocumentData.py:95-100). */
  def overlaps(s: Int, e: Int): Boolean = s < end && e > start
}
