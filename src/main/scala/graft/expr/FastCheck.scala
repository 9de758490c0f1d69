package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData
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
  * Input shape: two parallel string arrays (spans.kind, spans.text) rather
  * than the array-of-struct column. Feeding the extracted field arrays keeps
  * Catalyst's nested-schema pruning (the parquet scan reads only the kind and
  * text leaf columns) without `arrays_zip`'s per-span row materialization,
  * and one `getUTF8String(i)` per field is the only per-span allocation on
  * every ArrayData implementation. Three reach it: Tungsten arrays from the
  * codegen'd projection, generic arrays, and, over a columnar parquet read,
  * `ColumnarArray` views of the scan's kind and text vectors passed by
  * `graftbridge.ValidateScanExec` (FastCheckSpec runs its generators over
  * that layout too).
  *
  * Why: violations are rare in healthy corpora, so the hot loop is "prove
  * clean". The full path allocates ~30 objects/doc (spans, Strings,
  * counters); at 32 cores that allocation rate becomes the scaling limiter.
  * This path allocates two 16-long bitsets per call plus the UTF8String
  * wrappers (scalar-replaceable) and nothing else.
  */
final class FastCheck(fieldRules: RuleSet, recordRules: RuleSet)
    extends Serializable {

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

  /** True iff the doc provably has zero violations, over the parallel
    * (kind, text) arrays of one doc's spans.
    */
  def clean(kinds: ArrayData, texts: ArrayData): Boolean = {
    if (hasNonNumericRuleKeys) return false
    val n = kinds.numElements()
    if (n == 0 || texts.numElements() != n) return false
    // tag-occurrence bitsets (1000 bits): seen + seen-twice
    val seen = new Array[Long](16)
    val dup = new Array[Long](16)
    var main1xx = 0

    var i = 0
    while (i < n) {
      if (kinds.isNullAt(i)) return false
      val kind = kinds.getUTF8String(i)
      val text = if (texts.isNullAt(i)) null else texts.getUTF8String(i)
      val kb = kind.numBytes()
      if (i == 0) {
        // spans[0] must be the leader
        if (kb != 3 || kind.getByte(0) != 'L' || kind.getByte(1) != 'D' ||
          kind.getByte(2) != 'R') return false
        if (text == null || !leaderOk(text)) return false
      } else if (kb == 5 && kind.getByte(0) == 'm' && kind.getByte(1) == 'e' &&
        kind.getByte(2) == 'd' && kind.getByte(3) == 'i' && kind.getByte(4) == 'a') {
        // media span: skipped by MARC checks
      } else if (kb == 3 && isDigit(kind.getByte(0)) && isDigit(kind.getByte(1)) &&
        isDigit(kind.getByte(2))) {
        val num = (kind.getByte(0) - '0') * 100 + (kind.getByte(1) - '0') * 10 +
          (kind.getByte(2) - '0')
        val w = num >> 6; val bit = 1L << (num & 63)
        if ((seen(w) & bit) != 0) dup(w) |= bit else seen(w) |= bit
        if (num < 10) { // "00x" control path
          if (num == 0) return false // "000": Literal rejection -> violation
          if (!checkControl(num, text)) return false
        } else {
          if (num >= 100 && num < 200) main1xx += 1
          if (!checkDataField(num, text)) return false
        }
      } else {
        // non-3-digit kind: rules can't match (numeric-only table), but the
        // tag-pattern search and the startsWith("1") 1XX count still apply
        if (kb == 0) return false
        if (kind.getByte(0) == '1') main1xx += 1
        if (!tagPatternSearch(kind)) return false
      }
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

  // leader position classes, transcribed from the MARC21 leader pattern
  // (reference models.py:72): ^[0-9]{5} [acdnp] [acdefgijkmoprt] [abcdims]
  // [\sa] [\sa] 22 [0-9]{5} [\s12345678uzIKLM] [\sacinu] [\sabc] 4500$
  private def leaderOk(t: UTF8String): Boolean = {
    if (t.numBytes() != 24) return false // 24 ASCII chars; multi-byte -> fail pattern anyway
    def b(i: Int): Byte = t.getByte(i)
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

  private def checkControl(num: Int, t: UTF8String): Boolean = {
    lenKind(num) match {
      case 0 => true // no length rule (001/003/005 or unknown 002/004/009)
      case _ =>
        if (t == null) return false
        val chars = t.numChars() // codepoint count — matches Python len()
        if (lenKind(num) == LenFixed) contains(fixedOk(num), chars)
        else { // 007 material dispatch on first char
          if (t.numBytes() == 0) return false
          val c0 = t.getByte(0)
          if (c0 < 0) return false // multi-byte first char: slow path decides
          val oks = materialOk(num)(c0)
          oks != null && contains(oks, chars)
        }
    }
  }

  private def checkDataField(num: Int, t: UTF8String): Boolean = {
    val i1 = ind1Ok(num); val i2 = ind2Ok(num)
    val sf = sfCheck(num)
    if (i1 == null && i2 == null && !sf) return true // unknown tag or 841-878
    if (t == null) return false
    val nb = t.numBytes()
    if (nb < 2) return false // degenerate encoding: let the slow path decide
    val b0 = t.getByte(0); val b1 = t.getByte(1)
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
      if (t.getByte(j) == '$') {
        if (j + 1 < nb && t.getByte(j + 1) == '$') j += 2 // escaped literal '$'
        else if (j + 1 < nb) {
          val code = t.getByte(j + 1)
          if (code < 0) return false // non-ASCII code: slow path
          val (m, lo) = if (code < 64) (1L << code, true) else (1L << (code - 64), false)
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
