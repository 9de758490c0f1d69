package graft.expr

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.RuleSet
import graft.schema.{Span, Violation}

/** The one walk of the MARC21 rule surface over a doc's spans: the leader
  * check, the record checks (one 1XX, required and non-repeatable tags)
  * and the dispatch of each span's field checks, in two modes:
  *   - [[clean]] is true only when a doc provably has ZERO violations. It
  *     reads span codes and UTF-8 bytes without making a Java string and
  *     returns false at the first check that might fail (any ambiguity,
  *     such as a multi-byte indicator char, fails it);
  *   - [[violations]] renders every violation in [[MarcValidator]]'s order:
  *     the leader and record checks from the same codes and tag bitsets,
  *     and [[MarcValidator.checkField]] for a span only when its code is
  *     `Reject`, its text fails [[spanOk]], or it has its own table. This
  *     rests on a per-span contract (checked in FastCheckSpec): a span whose
  *     text passes [[spanOk]] gets no field violation.
  *
  * Per span, [[kindCode]] turns the kind into a code (a tag number, a code
  * past 999 for a rule key that is not three digits, or a negative class),
  * [[needsText]] says whether that code's rules read the text at all
  * (001/003/005, 910 and media do not), and [[spanOk]] checks the text. A
  * [[FastCheck.Spans]] gives the walk a doc: the `spans.kind`/`spans.text`
  * `ArrayData` pair ([[spans]]), which keeps the scan's nested-schema
  * pruning, or `graftbridge.SpanBatch`, which codes each kind dictionary
  * entry of a parquet batch once. Why: violations are rare in healthy
  * corpora, and in a failing doc most spans pass; [[clean]] allocates two
  * tag bitsets (plus, on `ArrayData`, its accessor and a UTF8String per
  * field read), and [[violations]] decodes only the spans it renders.
  *
  * Field checks resolve against `fieldRules` (the context scope when there
  * is one), record checks against `recordRules` (validators.py:52-55,
  * 221-239).
  */
final class FastCheck(fieldRules: RuleSet, recordRules: RuleSet)
    extends Serializable {
  import FastCheck._

  def this(rules: RuleSet) = this(rules, rules)

  // ---- plan-time precomputation (all per-tag lookups become array reads) --
  // rule keys that are not three digits get the codes past 999, in order
  private val extraTags: Array[String] =
    (recordRules.entries ++ fieldRules.entries).map(_._1).filterNot(isTagNumber).distinct.toArray
  private val numCodes = 1000 + extraTags.length
  private val words = (numCodes + 63) >> 6

  // control tags 001-009: the lengths a rule accepts, null for no rule; one
  // list for a fixed rule, one per ASCII first char for a material one (007)
  private val ctlLen = new Array[Array[Array[Int]]](10)
  // data tags: indicator and subfield rules
  private val ind1Ok = new Array[Array[Boolean]](numCodes) // null = no check
  private val ind2Ok = new Array[Array[Boolean]](numCodes)
  private val sfCheck = new Array[Boolean](numCodes) // subfield rules present
  private val sfValidEnabled = new Array[Boolean](numCodes) // valid list non-empty
  private val sfValidLo = new Array[Long](numCodes); private val sfValidHi = new Array[Long](numCodes)
  private val sfNonRepLo = new Array[Long](numCodes); private val sfNonRepHi = new Array[Long](numCodes)

  locally {
    // one array per distinct indicator domain, shared by the tags that have it
    val domains = scala.collection.mutable.HashMap.empty[Seq[String], Array[Boolean]]
    fieldRules.byTag.foreach { case (t, r) =>
      val n = tagCode(t)
      if (n > 0 && n < 10) ctlLen(n) = r.length match {
        case None => null
        case Some(RuleSet.FixedLen(spec)) => Array(spec.ok.toArray)
        case Some(RuleSet.MaterialLen(byChar)) =>
          val m = new Array[Array[Int]](128)
          byChar.foreach { case (c, spec) =>
            if (c.length == 1 && c.charAt(0) < 128) m(c.charAt(0)) = spec.ok.toArray
          }
          m
      } else if (n >= 10) {
        // an indicator is one char, so only a one-char value can match it
        def dom(d: Option[Seq[String]]): Array[Boolean] = d.map(vs =>
          domains.getOrElseUpdate(vs, {
            val a = new Array[Boolean](128)
            vs.foreach(v => if (v.length == 1 && v.charAt(0) < 128) a(v.charAt(0)) = true)
            a
          })).orNull
        ind1Ok(n) = dom(r.ind1); ind2Ok(n) = dom(r.ind2)
        def bits(codes: String, lo: Array[Long], hi: Array[Long]): Unit = codes.foreach { c =>
          if (c < 64) lo(n) |= 1L << c else if (c < 128) hi(n) |= 1L << (c - 64)
        }
        r.subfields.foreach { sf =>
          sfCheck(n) = true
          sfValidEnabled(n) = sf.valid.nonEmpty
          bits(sf.valid, sfValidLo, sfValidHi)
          bits(sf.nonRepeatable, sfNonRepLo, sfNonRepHi)
        }
      }
    }
  }

  // record checks, in the order they render: required tags in rule order,
  // non-repeatable ones in tag order; the 1XX count is startsWith("1")
  private val requiredTags: Array[String] = recordRules.requiredTags.toArray
  private val requiredCodes: Array[Int] = requiredTags.map(tagCode)
  private val nonRepeatableTags: Array[String] = recordRules.nonRepeatableTags.toArray.sorted
  private val nonRepeatableCodes: Array[Int] = nonRepeatableTags.map(tagCode)
  private val oneXX: Array[Boolean] = Array.tabulate(numCodes)(c =>
    if (c < 1000) c >= 100 && c < 200 else extraTags(c - 1000).startsWith("1"))

  // whether a code's rules read the span's text, indexed by code - Reject
  private val textNeeded: Array[Boolean] = Array.tabulate(numCodes - Reject) { j =>
    val code = j + Reject
    if (code <= 0) code == Leader
    else if (code < 10) ctlLen(code) != null
    else ind1Ok(code) != null || ind2Ok(code) != null || sfCheck(code)
  }

  /** True iff the doc provably has zero violations, over the parallel
    * (kind, text) arrays of one doc's spans.
    */
  def clean(kinds: ArrayData, texts: ArrayData): Boolean = clean(spans(kinds, texts))

  /** True iff the doc `spans` reads provably has zero violations. */
  def clean(spans: Spans): Boolean = walk(spans, null)

  /** Every violation of the doc `spans` reads. A span whose `perSpan(i)`
    * is defined gets its field checks against that table ([[FastCheck.NoSpanTables]]
    * for none).
    */
  def violations(spans: Spans, perSpan: Int => Option[RuleSet]): Seq[Violation] = {
    val render = new Render(spans, perSpan)
    walk(spans, render)
    render.out.toSeq
  }

  /** One doc's (kind, text) arrays; a span past a shorter texts array has no text. */
  def spans(kinds: ArrayData, texts: ArrayData): Spans = new ArraySpans(this, kinds, texts)

  /** With no `render`, false at the first check that might fail, else
    * true; with one, every check, rendering what fails.
    */
  private def walk(spans: Spans, render: Render): Boolean = {
    val n = spans.size
    val hasLeader = n > 0 && spans.code(0) == Leader
    if (!hasLeader || !spans.textOk(0, Leader)) {
      if (render == null) return false
      if (hasLeader) render.out ++= MarcValidator.leaderViolation(spans.text(0))
      else render.out += MarcValidator.NoLeader
    }
    // tag-occurrence bitsets: seen + seen-twice
    val seen = new Array[Long](words)
    val dup = new Array[Long](words)
    var main1xx = 0
    var i = if (hasLeader) 1 else 0
    while (i < n) {
      val code = spans.code(i)
      if (code > 0) {
        mark(seen, dup, code)
        if (oneXX(code)) main1xx += 1
        val ok = !needsText(code) || spans.textOk(i, code)
        if (render != null) render.field(i, !ok)
        else if (!ok) return false
      } else if (code == Reject) {
        if (render == null) return false
        val kind = spans.kind(i) // a rejected kind still counts, a null one not
        if (kind != null) {
          val c = tagCode(kind)
          if (c >= 0) mark(seen, dup, c)
          if (kind.startsWith("1")) main1xx += 1
        }
        render.field(i, failed = true)
      } else if (code == OtherTag1 || code == OtherTag) {
        if (code == OtherTag1) main1xx += 1
        if (render != null) render.field(i, failed = false)
      } else if (code == Leader && render == null) return false // renders nothing, not proved
      i += 1
    }
    if (render != null) return render.record(seen, dup, main1xx)
    if (main1xx > 1) return false
    var r = 0
    while (r < requiredCodes.length) { if (!has(seen, requiredCodes(r))) return false; r += 1 }
    r = 0
    while (r < nonRepeatableCodes.length) { if (has(dup, nonRepeatableCodes(r))) return false; r += 1 }
    true
  }

  private def mark(seen: Array[Long], dup: Array[Long], code: Int): Unit = {
    val w = code >> 6; val bit = 1L << (code & 63)
    if ((seen(w) & bit) != 0) dup(w) |= bit else seen(w) |= bit
  }

  private def has(bits: Array[Long], code: Int): Boolean =
    (bits(code >> 6) & (1L << (code & 63))) != 0

  /** One doc's violations as [[walk]] finds them: the leader's, then the
    * record checks' after the walk, then each field's in span order.
    */
  private final class Render(spans: Spans, perSpan: Int => Option[RuleSet]) {
    val out = ArrayBuffer.empty[Violation]
    private val fields = ArrayBuffer.empty[Violation]

    /** Span i's field checks, if the walk found it `failed` or it has its own table. */
    def field(i: Int, failed: Boolean): Unit = {
      val own = perSpan(i)
      if (failed || own.isDefined) MarcValidator.checkField(
        Span(spans.kind(i), spans.text(i), null, i), own.getOrElse(fieldRules), fields)
    }

    /** The record checks from the walk's bitsets and 1XX count, then the
      * field violations; true iff there are none.
      */
    def record(seen: Array[Long], dup: Array[Long], main1xx: Int): Boolean = {
      for (k <- nonRepeatableCodes.indices if has(dup, nonRepeatableCodes(k)))
        out += MarcValidator.nonRepeatableField(nonRepeatableTags(k))
      for (k <- requiredCodes.indices if !has(seen, requiredCodes(k)))
        out += MarcValidator.missingRequiredField(requiredTags(k))
      if (main1xx > 1) { // Counter.elements(): by first occurrence, repeated by count
        val mains = (0 until spans.size).map(spans.kind).filter(k => k != null && k.startsWith("1"))
        out += MarcValidator.multiple1xx(mains.distinct.flatMap(t => mains.filter(_ == t)))
      }
      out ++= fields
      out.isEmpty
    }
  }

  /** A rule key's or kind's code: its number when it is three digits, its
    * code past 999 when it is another rule key, else -1.
    */
  private def tagCode(tag: String): Int =
    if (isTagNumber(tag)) tag.toInt
    else { val j = extraTags.indexOf(tag); if (j < 0) -1 else 1000 + j }

  /** The code of a span kind: its tag number for "001"–"999", its code
    * past 999 when it is a rule key that is not three digits, else one of
    * the negative classes of [[FastCheck]]'s companion.
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
    // any other "00" kind is a control tag outside 001-009: a literal_error
    else if (kb < 3 || b(0) == '0' && b(1) == '0' || !tagPatternSearch(kind)) Reject
    else {
      val extra = if (extraTags.isEmpty) -1 else tagCode(kind.toString)
      if (extra >= 0) extra else if (b(0) == '1') OtherTag1 else OtherTag
    }
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

  private def checkControl(num: Int, base: AnyRef, offset: Long, nb: Int): Boolean = {
    val oks = ctlLen(num)
    if (oks == null) true // no length rule (001/003/005 or unknown 002/004/009)
    else if (oks.length == 1) contains(oks(0), numChars(base, offset, nb))
    else { // 007 material dispatch on the first char; a multi-byte one fails
      val c0 = if (nb == 0) -1 else Platform.getByte(base, offset)
      c0 >= 0 && oks(c0) != null && contains(oks(c0), numChars(base, offset, nb))
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
  // kindCode's classes of a kind that is not a tag "001"–"999" or a rule key
  /** "LDR": the leader, valid only as the first span. */
  final val Leader = -1
  /** "media": an asset span, skipped by the MARC checks. */
  final val Media = -2
  /** Another kind that passes the tag pattern and starts with '1' (a 1XX). */
  final val OtherTag1 = -3
  /** Any other kind that passes the tag pattern. */
  final val OtherTag = -4
  /** "000", a "00" kind of another length, an empty or null kind, or one
    * the tag pattern rejects.
    */
  final val Reject = -5

  private def isTagNumber(t: String): Boolean =
    t.length == 3 && t.forall(c => c >= '0' && c <= '9')

  /** One doc's spans as the walk reads them. */
  abstract class Spans {
    def size: Int
    /** [[FastCheck.kindCode]] of span `i`'s kind, [[Reject]] when null. */
    def code(i: Int): Int
    /** [[FastCheck.spanOk]] of span `i`'s text under its kind's `code`,
      * one that [[FastCheck.needsText]].
      */
    def textOk(i: Int, code: Int): Boolean
    /** Span `i`'s kind and text, decoded for a violation; null when null. */
    def kind(i: Int): String
    def text(i: Int): String
  }

  /** A doc's (kinds, texts) arrays; texts may be the shorter. */
  private final class ArraySpans(fc: FastCheck, kinds: ArrayData, texts: ArrayData)
      extends Spans {
    def size: Int = kinds.numElements()
    def code(i: Int): Int = if (kinds.isNullAt(i)) Reject else fc.kindCode(kinds.getUTF8String(i))
    def textOk(i: Int, code: Int): Boolean = fc.spanOk(code, utf8(texts, i))
    def kind(i: Int): String = Option(utf8(kinds, i)).map(_.toString).orNull
    def text(i: Int): String = Option(utf8(texts, i)).map(_.toString).orNull
    private def utf8(a: ArrayData, i: Int): UTF8String =
      if (i >= a.numElements() || a.isNullAt(i)) null else a.getUTF8String(i)
  }

  /** [[violations]]' `perSpan` when no span has its own table. */
  val NoSpanTables: Int => Option[RuleSet] = _ => None
}
