package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.RuleSet
import graft.schema.{Span, Violation}

/** The MARC21 rule surface's messages and string checks, re-expressing the
  * reference's check surface (leader shape pydantic_marc/models.py:67-75;
  * record-level checks validators.py:200-244; per-field checks
  * validators.py:75-149,247-297)
  * with the engine's documented edge policies for the reference's crash
  * paths (SURVEY.md §1.5). [[FastCheck]]'s walk decides which checks fail
  * and calls this object to render them; [[validate]] runs that walk over
  * a `Seq[Span]`.
  *
  * Violations are data, not exceptions; order is canonical-deterministic:
  * leader, then record-level (non-repeatable by tag, required in rule order,
  * 1XX), then per-field in span order with ind1, ind2, non-repeatable
  * subfields, invalid subfields (ties broken by code sort) — the same stage
  * order the reference emits, with its set-iteration nondeterminism removed.
  */
object MarcValidator extends Serializable {

  /** MARC21 leader shape (24 positions), as published in the MARC standard
    * and pinned by the reference at models.py:72.
    */
  val LeaderPattern: String =
    "^[0-9]{5}[acdnp][acdefgijkmoprt][abcdims][\\sa][\\sa]22[0-9]{5}[\\s12345678uzIKLM][\\sacinu][\\sabc]4500$"
  private val leaderRegex = LeaderPattern.r

  /** Data-field tag pattern — deliberately an unanchored *search*, matching
    * the reference's observed behavior (fields.py:108; "1234" and "x100"
    * pass, "01a" fails — SURVEY.md §1.5.5).
    */
  val TagPattern: String = "0[1-9]\\d|[1-9]\\d\\d"
  private val tagRegex = TagPattern.r
  private val controlTagRegex = "^00[1-9]$".r

  /** Python-repr-style string rendering (messages embed Python list reprs,
    * e.g. "Indicator should be ['', ' '].").
    */
  def pyRepr(s: String): String =
    if (s.contains("'")) "\"" + s + "\"" else "'" + s + "'"

  def pyList(xs: Seq[String]): String = xs.map(pyRepr).mkString("[", ", ", "]")

  def validate(spans: Seq[Span], rules: RuleSet): Seq[Violation] =
    validate(spans, rules, rules, FastCheck.NoSpanTables)

  /** Three-scope rule resolution, mirroring the reference's
    * `check_marc_rules` (validators.py:27-72):
    *
    *   - `recordRules`: governs the RECORD-level checks (non-repeatable,
    *     required, 1XX) — the reference's `validate_marc_fields` always
    *     reads the record-scope table (validators.py:221-239), even when a
    *     validation context is present.
    *   - `fieldDefault`: the table field checks resolve against when a span
    *     has no per-span rules — context scope if provided, else the record
    *     table (validators.py:52-55).
    *   - `perSpan(i)`: per-field scope, winning over both when defined for
    *     span i (validators.py:58-62: a field carrying explicit rules keeps
    *     them).
    */
  def validate(spans: Seq[Span], recordRules: RuleSet, fieldDefault: RuleSet,
      perSpan: Int => Option[RuleSet]): Seq[Violation] = {
    def column(f: Span => String) =
      new GenericArrayData(spans.map(s => UTF8String.fromString(f(s))).toArray[Any])
    val fc = lastCoded match {
      case (f, r, c) if (f eq fieldDefault) && (r eq recordRules) => c
      case _ =>
        val c = new FastCheck(fieldDefault, recordRules)
        lastCoded = (fieldDefault, recordRules, c)
        c
    }
    fc.violations(fc.spans(column(_.kind), column(_.text)), perSpan)
  }

  // the coded form of the last pair of tables [[validate]] was called with:
  // callers repeat one table instance across docs, so it is matched by `eq`
  @volatile private var lastCoded: (RuleSet, RuleSet, FastCheck) = (null, null, null)

  /** The leader check's violation when span 0 is not an "LDR". */
  val NoLeader: Violation = Violation("string_type", Seq("leader"), null, null,
    "Input should be a valid string", null, Map.empty)

  /** The leader check of an "LDR" span 0's text (null reads as ""). */
  def leaderViolation(text: String): Option[Violation] = {
    val t = if (text == null) "" else text
    val tLen = t.codePointCount(0, t.length) // Python len() semantics
    if (tLen < 24)
      Some(Violation("too_short", Seq("leader"), null, null,
        s"Value should have at least 24 items after validation, not $tLen",
        t, Map("min_length" -> "24", "actual_length" -> tLen.toString)))
    else if (tLen > 24)
      Some(Violation("too_long", Seq("leader"), null, null,
        s"Value should have at most 24 items after validation, not $tLen",
        t, Map("max_length" -> "24", "actual_length" -> tLen.toString)))
    else if (leaderRegex.findFirstIn(t).isEmpty)
      Some(Violation("string_pattern_mismatch", Seq("leader"), null, null,
        s"String should match pattern '$LeaderPattern'",
        t, Map("pattern" -> LeaderPattern)))
    else None
  }

  // record-level messages, rendered non-repeatable by tag (the reference
  // iterates a set, SURVEY.md §1.5.8), required in rule order, then 1XX
  def nonRepeatableField(tag: String): Violation =
    Violation("non_repeatable_field", Seq("fields", tag), tag, null,
      s"$tag: Has been marked as a non-repeating field.", tag, Map("input" -> tag))

  def missingRequiredField(tag: String): Violation =
    Violation("missing_required_field", Seq("fields", tag), tag, null,
      s"One $tag field must be present in a MARC21 record.", tag, Map("input" -> tag))

  def multiple1xx(mains: Seq[String]): Violation = {
    val rendered = pyList(mains)
    Violation("multiple_1xx_fields", Seq("fields") ++ mains, null, null,
      s"1XX: Only one 1XX tag is allowed. Record contains: $rendered",
      rendered, Map("input" -> rendered))
  }

  /** The record-scope field checks of span `f`, one that is neither leader
    * nor media, against `rules`: a "00" kind is a control field, any other
    * a data field.
    */
  def checkField(f: Span, rules: RuleSet, out: mutable.ArrayBuffer[Violation]): Unit =
    if (f.kind != null && f.kind.startsWith("00")) validateControl(f, rules, out)
    else validateData(f, rules, out)

  /** Standalone single-field validation, with the reference's standalone loc
    * convention: validating a `ControlField`/`DataField` directly yields
    * locs prefixed by the failing MODEL ATTRIBUTE, not by "fields" —
    * ("data", tag) for control lengths (tests/test_fields.py:108,201),
    * ("indicators", tag, ind) for indicator domains,
    * ("subfields", tag, code) for subfield checks
    * (tests/test_fields.py:345,455,569), ("tag",) for a malformed tag, and
    * ("data",) for a null control value (tests/test_fields.py:90-91).
    */
  def validateField(f: Span, rules: RuleSet = RuleSet.default): Seq[Violation] = {
    val out = mutable.ArrayBuffer.empty[Violation]
    if (f.kind != null && f.kind.startsWith("00") && f.text == null)
      out += Violation("string_type", Seq("data"), f.kind, null,
        "Input should be a valid string", null, Map.empty)
    else checkField(f, rules, out)
    out.toSeq.map { v =>
      val standaloneLoc = v.rule_id match {
        case "control_field_length_invalid"           => Seq("data", v.tag)
        case "invalid_indicator"                      => Seq("indicators", v.tag, v.code)
        case "subfield_not_allowed" |
             "non_repeatable_subfield"                => Seq("subfields", v.tag, v.code)
        case "string_pattern_mismatch" |
             "literal_error"                          => Seq("tag")
        case _                                        => v.loc
      }
      v.copy(loc = standaloneLoc)
    }
  }

  /** Standalone leader validation (reference PydanticLeader,
    * tests/test_fields.py:618-632): loc ("leader",) as in record scope.
    */
  def validateLeader(text: String, rules: RuleSet = RuleSet.default): Seq[Violation] =
    validate(Seq(Span("LDR", text, null, 0)), rules)
      .filter(_.loc.headOption.contains("leader"))

  private def validateControl(f: Span, rules: RuleSet,
      out: mutable.ArrayBuffer[Violation]): Unit = {
    val tag = f.kind
    val data = if (f.text == null) "" else f.text
    if (controlTagRegex.findFirstIn(tag).isEmpty) {
      // engine policy: a "00x" kind outside 001..009 (reference: Literal
      // rejection, fields.py:63) becomes a violation row, not a crash
      out += Violation("literal_error", Seq("fields", tag), tag, null,
        s"Input should be '001', '002', '003', '004', '005', '006', '007', '008' or '009'",
        tag, Map("input" -> tag))
      return
    }
    // length in CODEPOINTS (Python len() semantics — the reference counts
    // characters, not UTF-16 units; matters only for supplementary chars)
    val dataLen = data.codePointCount(0, data.length)
    rules.get(tag).flatMap(_.length) match {
      case None => // no length rule (001/003/005, or unknown 002/004/009): skip
      case Some(RuleSet.FixedLen(spec)) =>
        if (!spec.ok.contains(dataLen))
          out += lengthViolation(tag, data, dataLen, spec.rendered)
      case Some(RuleSet.MaterialLen(byChar)) =>
        // 007 dispatches on the material-category (first) char; empty data or
        // unknown material -> expected "None" (reference behavior for unknown
        // material validators.py:100-106; crash-fix policy for empty data,
        // SURVEY.md §1.5.3-4)
        val spec = if (data.isEmpty) None
          else byChar.get(new String(Character.toChars(data.codePointAt(0))))
        spec match {
          case Some(sp) if sp.ok.contains(dataLen) => // ok
          case Some(sp) => out += lengthViolation(tag, data, dataLen, sp.rendered)
          case None     => out += lengthViolation(tag, data, dataLen, "None")
        }
    }
  }

  private def lengthViolation(tag: String, data: String, dataLen: Int,
      valid: String): Violation =
    Violation("control_field_length_invalid", Seq("fields", tag), tag, null,
      s"$tag: Length appears to be invalid. Reported length is: $dataLen. " +
        s"Expected length is: $valid",
      data, Map("tag" -> tag, "valid" -> valid, "length" -> dataLen.toString))

  private def validateData(f: Span, rules: RuleSet,
      out: mutable.ArrayBuffer[Violation]): Unit = {
    val tag = f.kind
    if (tag == null || tagRegex.findFirstIn(tag).isEmpty) {
      // engine policy for the reference's crash cascade on malformed tags
      // (SURVEY.md §1.5.6): emit the pattern violation, skip the field
      out += Violation("string_pattern_mismatch", Seq("fields", String.valueOf(tag)),
        tag, null, s"String should match pattern '$TagPattern'", tag,
        Map("pattern" -> TagPattern))
      return
    }
    val rule = rules.get(tag).getOrElse {
      return // unknown tag: all checks skip (validators.py:132-135, 264-267)
    }

    val text = if (f.text == null) "" else f.text
    val ind1 = if (text.length >= 1) text.substring(0, 1) else ""
    val ind2 = if (text.length >= 2) text.substring(1, 2) else ""

    // indicators — skip when the rule has no domains (holdings tags 841-878;
    // the reference crashes there, SURVEY.md §1.5.2)
    for ((ind, domOpt, name) <- Seq((ind1, rule.ind1, "ind1"), (ind2, rule.ind2, "ind2")))
      domOpt.foreach { dom =>
        if (!dom.contains(ind))
          out += Violation("invalid_indicator", Seq("fields", tag, name), tag, name,
            s"$tag $name: Invalid data ($ind). Indicator should be ${pyList(dom)}.",
            ind, Map("tag" -> tag, "ind" -> name, "valid" -> pyList(dom)))
      }

    // subfields
    rule.subfields.foreach { sf =>
      val subs = parseSubfields(text)
      if (subs.nonEmpty) {
        val counts = mutable.LinkedHashMap.empty[Char, Int]
        subs.foreach { case (c, _) => counts.update(c, counts.getOrElse(c, 0) + 1) }
        // non-repeatable first, then not-allowed — the reference's stage order
        // (validators.py:273-292); codes sorted for determinism
        for (c <- counts.keys.toSeq.sorted
             if sf.nonRepeatableSet.contains(c) && counts(c) > 1)
          out += Violation("non_repeatable_subfield",
            Seq("fields", tag, c.toString), tag, c.toString,
            s"$tag $$$c: Subfield cannot repeat.",
            pyList(subs.collect { case (`c`, v) => v }),
            Map("tag" -> tag, "code" -> c.toString,
              // raw values (US-separated) so error renderers can rebuild the
              // reference's PydanticSubfield reprs without re-parsing pyList
              "values" -> subs.collect { case (`c`, v) => v }.mkString("\u001f")))
        for (c <- counts.keys.toSeq.sorted
             if sf.valid.nonEmpty && !sf.validSet.contains(c))
          out += Violation("subfield_not_allowed",
            Seq("fields", tag, c.toString), tag, c.toString,
            s"$tag $$$c: Subfield cannot be defined in this field.",
            pyList(subs.collect { case (`c`, v) => v }),
            Map("tag" -> tag, "code" -> c.toString,
              "values" -> subs.collect { case (`c`, v) => v }.mkString("\u001f")))
      }
    }
  }

  /** Decode the span-text subfield grammar (FIXTURES.md §2): after the two
    * indicator chars, `("$" code value)*` with literal '$' escaped as "$$".
    */
  def parseSubfields(text: String): Seq[(Char, String)] = {
    val out = mutable.ArrayBuffer.empty[(Char, String)]
    var i = 2 // skip ind chars
    val n = text.length
    var code: Char = 0
    val value = new java.lang.StringBuilder
    var inSub = false
    def flush(): Unit = if (inSub) { out += ((code, value.toString)); value.setLength(0) }
    while (i < n) {
      val ch = text.charAt(i)
      if (ch == '$') {
        if (i + 1 < n && text.charAt(i + 1) == '$') { // escaped literal '$'
          if (inSub) value.append('$')
          i += 2
        } else if (i + 1 < n) { // new subfield: '$' + code char
          flush()
          code = text.charAt(i + 1)
          inSub = true
          i += 2
        } else i += 1 // trailing bare '$': ignore
      } else {
        if (inSub) value.append(ch)
        i += 1
      }
    }
    flush()
    out.toSeq
  }
}
