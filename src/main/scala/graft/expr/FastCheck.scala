package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.RuleSet

/** Allocation-light clean-doc detector: returns true only when a document
  * provably has ZERO violations, operating byte-wise on UTF8String without
  * materializing java Strings. Any ambiguity (multi-byte indicator chars,
  * non-digit tags with rules, malformed shapes) returns false and the full
  * [[MarcValidator]] path runs — so the fast path can only ever agree with
  * the reference semantics, never diverge (equivalence is property-tested
  * against the full path in FastCheckSpec).
  *
  * Per span the work is split in three: [[kindCode]] turns the kind into a
  * tag number or a negative class, [[needsText]] says from a table built
  * here whether that code's rules read the text at all (001/003/005, tags
  * with no indicator, subfield or length rule such as 910, and media spans
  * do not), and [[spanOk]] checks the text under the code. One loop,
  * [[clean]], reads a doc through a [[FastCheck.Spans]] accessor and keeps
  * the record-level checks (one 1XX, required and non-repeatable tags).
  *
  * Input shapes. The parallel (spans.kind, spans.text) string arrays rather
  * than the array-of-struct column: feeding the extracted field arrays keeps
  * Catalyst's nested-schema pruning (the parquet scan reads only the kind and
  * text leaf columns) without `arrays_zip`'s per-span row materialization.
  * Two accessors reach the loop:
  *   - an `ArrayData` pair, `clean(kinds, texts)`: Tungsten arrays from the
  *     codegen'd projection, generic arrays, or `ColumnarArray` views. It
  *     parses each span's kind and reads the text a rule needs, one
  *     `getUTF8String` per field read;
  *   - `graftbridge.SpanBatch`, `graftbridge.ValidateScanExec`'s view of a
  *     parquet batch's kind and text vectors, which codes each kind
  *     dictionary entry once per batch.
  *
  * Why: violations are rare in healthy corpora, so the hot loop is "prove
  * clean". The full path allocates ~30 objects/doc (spans, Strings,
  * counters); at 32 cores that allocation rate becomes the scaling limiter.
  * Per call this path allocates two 16-long bitsets, plus, on the
  * `ArrayData` form, its accessor and a UTF8String wrapper per field read.
  * Over a batch view it makes a UTF8String per kind dictionary entry, per
  * plain-encoded kind and per text a rule reads, except that an on-heap
  * plain-encoded text is checked in place.
  */
final class FastCheck(fieldRules: RuleSet, recordRules: RuleSet)
    extends Serializable {
  import FastCheck._

  def this(rules: RuleSet) = this(rules, rules)

  // ---- plan-time precomputation (all per-tag lookups become array reads) --
  // field checks (length/indicator/subfield) resolve against fieldRules —
  // the context scope when provided; record checks (required/non-repeatable)
  // resolve against recordRules, mirroring MarcValidator's scope split
  private val hasNonNumericRuleKeys: Boolean =
    (fieldRules.entries.iterator ++ recordRules.entries.iterator)
      .exists { case (t, _) => t.length != 3 || !t.forall(_.isDigit) }

  private val LenNone = 0; private val LenFixed = 1; private val LenMaterial = 2

  private val lenKind = new Array[Byte](1000)
  private val fixedOk = new Array[Array[Int]](1000)
  private val materialOk = new Array[Array[Array[Int]]](1000) // [tag][firstChar<128][oks]
  private val ind1Ok = new Array[Array[Boolean]](1000) // null = no check
  private val ind2Ok = new Array[Array[Boolean]](1000)
  private val sfCheck = new Array[Boolean](1000) // subfield rules present
  private val sfValidEnabled = new Array[Boolean](1000) // valid list non-empty
  private val sfValidLo = new Array[Long](1000); private val sfValidHi = new Array[Long](1000)
  private val sfNonRepLo = new Array[Long](1000); private val sfNonRepHi = new Array[Long](1000)
  private val nonRepeatableNums: Array[Int] = {
    val b = Array.newBuilder[Int]
    recordRules.entries.foreach { case (t, r) =>
      if (!r.repeatable && t.length == 3 && t.forall(_.isDigit)) b += t.toInt
    }
    b.result()
  }
  private val requiredNums: Array[Int] =
    recordRules.requiredTags.filter(t => t.length == 3 && t.forall(_.isDigit))
      .map(_.toInt).toArray

  fieldRules.entries.foreach { case (t, r) =>
    if (t.length == 3 && t.forall(_.isDigit)) {
      val n = t.toInt
      r.length match {
        case None => lenKind(n) = LenNone.toByte
        case Some(RuleSet.FixedLen(spec)) =>
          lenKind(n) = LenFixed.toByte; fixedOk(n) = spec.ok.toArray
        case Some(RuleSet.MaterialLen(byChar)) =>
          lenKind(n) = LenMaterial.toByte
          val m = new Array[Array[Int]](128)
          byChar.foreach { case (c, spec) =>
            if (c.length == 1 && c.charAt(0) < 128) m(c.charAt(0)) = spec.ok.toArray
          }
          materialOk(n) = m
      }
      def dom(d: Option[Seq[String]]): Array[Boolean] = d.map { vs =>
        val a = new Array[Boolean](128)
        vs.foreach { v =>
          if (v.isEmpty) a(' ') = true // "" and " " co-occur in every domain; the
          else if (v.charAt(0) < 128) a(v.charAt(0)) = true // encoder maps "" to ' '
        }
        a
      }.orNull
      ind1Ok(n) = dom(r.ind1); ind2Ok(n) = dom(r.ind2)
      r.subfields.foreach { sf =>
        sfCheck(n) = true
        sfValidEnabled(n) = sf.valid.nonEmpty
        sf.valid.foreach { c =>
          if (c < 64) sfValidLo(n) |= 1L << c
          else if (c < 128) sfValidHi(n) |= 1L << (c - 64)
        }
        sf.nonRepeatable.foreach { c =>
          if (c < 64) sfNonRepLo(n) |= 1L << c
          else if (c < 128) sfNonRepHi(n) |= 1L << (c - 64)
        }
      }
    }
  }

  // whether a code's rules read the span's text, indexed by code - Reject
  private val textNeeded: Array[Boolean] = {
    val a = new Array[Boolean](1000 - Reject)
    a(Leader - Reject) = true
    var num = 1
    while (num < 1000) {
      a(num - Reject) =
        if (num < 10) lenKind(num) != LenNone
        else ind1Ok(num) != null || ind2Ok(num) != null || sfCheck(num)
      num += 1
    }
    a
  }

  /** True iff the doc provably has zero violations, over the parallel
    * (kind, text) arrays of one doc's spans.
    */
  def clean(kinds: ArrayData, texts: ArrayData): Boolean =
    texts.numElements() == kinds.numElements() && clean(new ArraySpans(this, kinds, texts))

  /** True iff the doc `spans` reads provably has zero violations. */
  def clean(spans: Spans): Boolean = {
    if (hasNonNumericRuleKeys) return false
    val n = spans.size
    if (n == 0) return false
    // tag-occurrence bitsets (1000 bits): seen + seen-twice
    val seen = new Array[Long](16)
    val dup = new Array[Long](16)
    var main1xx = 0

    var i = 0
    while (i < n) {
      val code = spans.code(i)
      if (code > 0) {
        if (i == 0) return false // spans[0] must be the leader
        val w = code >> 6; val bit = 1L << (code & 63)
        if ((seen(w) & bit) != 0) dup(w) |= bit else seen(w) |= bit
        if (code >= 100 && code < 200) main1xx += 1
      } else if (code == Leader) {
        if (i != 0) return false // "LDR" anywhere else fails the tag pattern
      } else if (i == 0 || code == Reject) return false
      else if (code == OtherTag1) main1xx += 1 // the 1XX count is startsWith("1")
      if (needsText(code) && !spans.textOk(i, code)) return false
      i += 1
    }
    if (main1xx > 1) return false
    var r = 0
    while (r < requiredNums.length) {
      val num = requiredNums(r)
      if ((seen(num >> 6) & (1L << (num & 63))) == 0) return false
      r += 1
    }
    var k = 0
    while (k < nonRepeatableNums.length) {
      val num = nonRepeatableNums(k)
      if ((dup(num >> 6) & (1L << (num & 63))) != 0) return false
      k += 1
    }
    true
  }

  /** The code of a span kind: its tag number for "001"–"999", else one of
    * the negative classes of [[FastCheck]]'s companion. Non-3-digit kinds
    * match no rule (the table is numeric-only), but the tag-pattern search
    * and the startsWith("1") 1XX count still apply to them.
    */
  def kindCode(kind: UTF8String): Int = {
    val kb = kind.numBytes()
    def b(j: Int): Byte = kind.getByte(j)
    if (kb == 3 && isDigit(b(0)) && isDigit(b(1)) && isDigit(b(2))) {
      val num = (b(0) - '0') * 100 + (b(1) - '0') * 10 + (b(2) - '0')
      if (num == 0) Reject else num // "000": Literal rejection -> violation
    } else if (kb == 3 && b(0) == 'L' && b(1) == 'D' && b(2) == 'R') Leader
    else if (kb == 5 && b(0) == 'm' && b(1) == 'e' && b(2) == 'd' && b(3) == 'i' &&
      b(4) == 'a') Media // skipped by MARC checks
    else if (kb == 0 || !tagPatternSearch(kind)) Reject
    else if (b(0) == '1') OtherTag1
    else OtherTag
  }

  /** Whether [[spanOk]] reads the text of a span with this code; when it
    * does not, the span's text cannot make the doc fail.
    */
  def needsText(code: Int): Boolean = textNeeded(code - Reject)

  /** The checks of one span's text (null when the span has none) under
    * its kind's code: the leader pattern, a control field's length, or a
    * data field's indicators and subfields. True for a code whose rules
    * read no text ([[needsText]]); for any other, a null text fails.
    */
  def spanOk(code: Int, text: UTF8String): Boolean =
    !needsText(code) ||
      text != null && spanOk(code, text.getBaseObject, text.getBaseOffset, text.numBytes())

  /** [[spanOk]] of a non-null text held as a `UTF8String` holds it: its
    * `numBytes` UTF-8 bytes at `offset` of `base` (a byte array with
    * `Platform.BYTE_ARRAY_OFFSET` added, or null and an address), for a
    * code that [[needsText]].
    */
  def spanOk(code: Int, base: AnyRef, offset: Long, numBytes: Int): Boolean =
    if (code >= 10) checkDataField(code, base, offset, numBytes)
    else if (code > 0) checkControl(code, base, offset, numBytes)
    else leaderOk(base, offset, numBytes)

  // leader position classes, transcribed from the MARC21 leader pattern
  // (reference models.py:72): ^[0-9]{5} [acdnp] [acdefgijkmoprt] [abcdims]
  // [\sa] [\sa] 22 [0-9]{5} [\s12345678uzIKLM] [\sacinu] [\sabc] 4500$
  private def leaderOk(base: AnyRef, offset: Long, nb: Int): Boolean = {
    if (nb != 24) return false // 24 ASCII chars; multi-byte -> fail pattern anyway
    def b(i: Int): Byte = Platform.getByte(base, offset + i)
    def digit(i: Int): Boolean = b(i) >= '0' && b(i) <= '9'
    def in(i: Int, s: String): Boolean = s.indexOf(b(i).toChar) >= 0
    var i = 0
    while (i <= 4) { if (!digit(i)) return false; i += 1 }
    i = 12
    while (i <= 16) { if (!digit(i)) return false; i += 1 }
    in(5, "acdnp") && in(6, "acdefgijkmoprt") && in(7, "abcdims") &&
      in(8, " a") && in(9, " a") && b(10) == '2' && b(11) == '2' &&
      in(17, " 12345678uzIKLM") && in(18, " acinu") && in(19, " abc") &&
      b(20) == '4' && b(21) == '5' && b(22) == '0' && b(23) == '0'
  }

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Unanchored search for `0[1-9]\d|[1-9]\d\d` over the kind bytes (safe on
    * UTF-8: continuation bytes are >= 0x80, never ASCII digits).
    */
  private def tagPatternSearch(kind: UTF8String): Boolean = {
    val n = kind.numBytes()
    var j = 0
    while (j + 3 <= n) {
      val a = kind.getByte(j); val b = kind.getByte(j + 1); val c = kind.getByte(j + 2)
      if ((a == '0' && b >= '1' && b <= '9' && isDigit(c)) ||
        (a >= '1' && a <= '9' && isDigit(b) && isDigit(c))) return true
      j += 1
    }
    false
  }

  private def checkControl(num: Int, base: AnyRef, offset: Long, nb: Int): Boolean =
    if (lenKind(num) == LenNone) true // no length rule (001/003/005 or unknown 002/004/009)
    else {
      val chars = numChars(base, offset, nb)
      if (lenKind(num) == LenFixed) contains(fixedOk(num), chars)
      else { // 007 material dispatch on first char
        if (nb == 0) return false
        val c0 = Platform.getByte(base, offset)
        if (c0 < 0) return false // multi-byte first char: slow path decides
        val oks = materialOk(num)(c0)
        oks != null && contains(oks, chars)
      }
    }

  /** The codepoint count of a text (Python len()): its byte count when
    * every byte is ASCII, tested 8 bytes at a time, else
    * `UTF8String.numChars`.
    */
  private def numChars(base: AnyRef, offset: Long, nb: Int): Int = {
    var j = 0
    while (j + 8 <= nb) {
      if ((Platform.getLong(base, offset + j) & 0x8080808080808080L) != 0)
        return UTF8String.fromAddress(base, offset, nb).numChars()
      j += 8
    }
    while (j < nb) {
      if (Platform.getByte(base, offset + j) < 0)
        return UTF8String.fromAddress(base, offset, nb).numChars()
      j += 1
    }
    nb
  }

  private def checkDataField(num: Int, base: AnyRef, offset: Long, nb: Int): Boolean = {
    val i1 = ind1Ok(num); val i2 = ind2Ok(num)
    val sf = sfCheck(num)
    if (i1 == null && i2 == null && !sf) return true // unknown tag or 841-878
    if (nb < 2) return false // degenerate encoding: let the slow path decide
    def b(j: Int): Byte = Platform.getByte(base, offset + j)
    val b0 = b(0); val b1 = b(1)
    if (b0 < 0 || b1 < 0) return false // multi-byte indicator chars
    if (i1 != null && !i1(b0)) return false
    if (i2 != null && !i2(b1)) return false
    if (!sf) return true
    // subfield scan: ("$" code value)* with "$$" escaping literal '$'
    val validEnabled = sfValidEnabled(num)
    val vLo = sfValidLo(num); val vHi = sfValidHi(num)
    val nrLo = sfNonRepLo(num); val nrHi = sfNonRepHi(num)
    var seenLo = 0L; var seenHi = 0L
    var j = 2
    while (j < nb) {
      if (b(j) == '$') {
        if (j + 1 < nb && b(j + 1) == '$') j += 2 // escaped literal '$'
        else if (j + 1 < nb) {
          val code = b(j + 1)
          if (code < 0) return false // non-ASCII code: slow path
          val lo = code < 64
          val m = 1L << (if (lo) code else code - 64)
          if (validEnabled && ((if (lo) vLo else vHi) & m) == 0) return false
          val already = ((if (lo) seenLo else seenHi) & m) != 0
          if (already && ((if (lo) nrLo else nrHi) & m) != 0) return false
          if (lo) seenLo |= m else seenHi |= m
          j += 2
        } else j += 1
      } else j += 1
    }
    true
  }

  private def contains(a: Array[Int], v: Int): Boolean = {
    var i = 0
    while (i < a.length) { if (a(i) == v) return true; i += 1 }
    false
  }
}

object FastCheck {
  // kindCode's classes of a kind that is not a tag "001"–"999"
  /** "LDR": the leader, valid only as the first span. */
  final val Leader = -1
  /** "media": an asset span, skipped by the MARC checks. */
  final val Media = -2
  /** Another kind that passes the tag pattern and starts with '1' (a 1XX). */
  final val OtherTag1 = -3
  /** Any other kind that passes the tag pattern. */
  final val OtherTag = -4
  /** "000", an empty or null kind, or one the tag pattern rejects. */
  final val Reject = -5

  /** One doc's spans as [[FastCheck.clean]] reads them: span `i`'s kind
    * code, and whether its text passes the checks of that code.
    */
  abstract class Spans {
    def size: Int
    /** [[FastCheck.kindCode]] of span `i`'s kind, [[Reject]] when null. */
    def code(i: Int): Int
    /** [[FastCheck.spanOk]] of span `i`'s text under its kind's `code`,
      * one that [[FastCheck.needsText]].
      */
    def textOk(i: Int, code: Int): Boolean
  }

  /** A doc's (kinds, texts) arrays of the same length. */
  private final class ArraySpans(fc: FastCheck, kinds: ArrayData, texts: ArrayData)
      extends Spans {
    def size: Int = kinds.numElements()
    def code(i: Int): Int =
      if (kinds.isNullAt(i)) Reject else fc.kindCode(kinds.getUTF8String(i))
    def textOk(i: Int, code: Int): Boolean =
      fc.spanOk(code, if (texts.isNullAt(i)) null else texts.getUTF8String(i))
  }
}
