package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.MarcValidator
import graft.gen.Fixtures
import graft.rules.{MarcRules, RuleSet}
import graft.schema.{Span, Violation}

/** Kernel-level parity with the reference's fixtures and parametrized unit
  * tests (/root/reference/tests/test_models.py, test_fields.py,
  * test_validators.py) — pure Scala, no Spark session.
  */
class MarcValidatorSpec extends AnyFunSuite {

  private val rules = RuleSet.default

  private def run(spans: Seq[Span]): Seq[Violation] =
    MarcValidator.validate(spans, rules)

  // --- rule table (reference tests/test_rules.py) -------------------------
  test("rule table has exactly 241 entries") {
    assert(MarcRules.entries.size == 241)
  }

  test("rule table spot checks match the reference") {
    val r020 = rules.get("020").get
    assert(r020.repeatable)
    assert(r020.ind1.contains(Seq("", " ")))
    assert(r020.subfields.get.valid == "acqz68")
    assert(rules.get("900").isEmpty)
    assert(!rules.get("245").get.repeatable)
    assert(rules.get("245").get.required)
    assert(rules.get("008").get.required)
    assert(rules.requiredTags == Vector("008", "245"))
    assert(rules.nonRepeatableTags.size == 36)
    val r841 = rules.get("841").get
    assert(r841.ind1.isEmpty && r841.subfields.isEmpty)
  }

  // --- golden fixtures -----------------------------------------------------
  test("valid golden record produces zero violations") {
    assert(run(Fixtures.validDoc.spans).isEmpty)
  }

  test("invalid golden record produces exactly the 9 expected violations in order") {
    val got = run(Fixtures.invalidDoc.spans)
      .map(v => (v.rule_id, v.loc.mkString("/"), v.msg))
    assert(got == Fixtures.expectedInvalid)
  }

  // --- leader (reference tests/test_models.py:58-63,76) --------------------
  test("leader length 23 -> too_short with pydantic message") {
    val vs = run(Seq(Span("LDR", "00454cam a22001575i 450", null, 0),
      Span("008", "x" * 40, null, 1), Span("245", "00$aT", null, 2)))
    assert(vs.map(_.rule_id) == Seq("too_short"))
    assert(vs.head.msg == "Value should have at least 24 items after validation, not 23")
  }

  test("leader length 25 -> too_long") {
    val vs = run(Seq(Span("LDR", "00454cam a22001575i 45000", null, 0),
      Span("008", "x" * 40, null, 1), Span("245", "00$aT", null, 2)))
    assert(vs.map(_.rule_id) == Seq("too_long"))
    assert(vs.head.msg == "Value should have at most 24 items after validation, not 25")
  }

  // --- control-field lengths (reference tests/test_fields.py:94-202) ------
  private def ctl(tag: String, data: String): Seq[Violation] =
    run(Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("008", "190306s2017    ht a   j      000 1 hat d", null, 1),
      Span("245", "00$aT", null, 2), Span(tag, data, null, 3)))

  test("006 wrong lengths -> control_field_length_invalid") {
    for (len <- Seq(4, 2, 21)) {
      val vs = ctl("006", "m" * len)
      assert(vs.map(_.rule_id) == Seq("control_field_length_invalid"))
      assert(vs.head.msg ==
        s"006: Length appears to be invalid. Reported length is: $len. Expected length is: 18")
    }
    assert(ctl("006", "m" + " " * 17).isEmpty)
  }

  test("all 15 007 material codes with 3-char data fail with per-material expected length") {
    val expected = Map("a" -> "8", "c" -> "[6, 14]", "d" -> "6", "f" -> "10",
      "g" -> "9", "h" -> "13", "k" -> "6", "m" -> "23", "o" -> "2", "q" -> "2",
      "r" -> "11", "s" -> "14", "t" -> "2", "v" -> "9", "z" -> "2")
    for ((mat, exp) <- expected) {
      val vs = ctl("007", mat + "||")
      assert(vs.map(_.rule_id) == Seq("control_field_length_invalid"), s"mat=$mat")
      assert(vs.head.msg ==
        s"007: Length appears to be invalid. Reported length is: 3. Expected length is: $exp")
    }
  }

  test("007 valid lengths pass (incl. any-of list for material c)") {
    assert(ctl("007", "a" * 8).isEmpty)
    assert(ctl("007", "c" + "|" * 5).isEmpty)  // 6
    assert(ctl("007", "c" + "|" * 13).isEmpty) // 14
  }

  test("007 unknown material char -> Expected length is: None (reference SURVEY §1.5.3)") {
    val vs = ctl("007", "x||")
    assert(vs.head.msg ==
      "007: Length appears to be invalid. Reported length is: 3. Expected length is: None")
  }

  test("007 empty data -> length violation with valid=None (engine crash-fix policy §1.5.4)") {
    val vs = ctl("007", "")
    assert(vs.map(_.rule_id) == Seq("control_field_length_invalid"))
    assert(vs.head.msg ==
      "007: Length appears to be invalid. Reported length is: 0. Expected length is: None")
  }

  test("008 lengths 18/43 fail, 40 passes") {
    def rec(data: String) = run(Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("008", data, null, 1), Span("245", "00$aT", null, 2)))
    assert(rec("x" * 40).isEmpty)
    for (len <- Seq(18, 43))
      assert(rec("x" * len).map(_.rule_id) == Seq("control_field_length_invalid"))
  }

  test("002/004/009 accepted with no rules -> vacuous pass") {
    for (tag <- Seq("002", "004", "009")) assert(ctl(tag, "anything").isEmpty)
  }

  // --- indicators (reference tests/test_fields.py:267-294,489-516) --------
  private def fld(tag: String, text: String): Seq[Violation] =
    run(Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("008", "190306s2017    ht a   j      000 1 hat d", null, 1),
      Span("245", "00$aT", null, 2), Span(tag, text, null, 3)))

  test("010 with indicators 1/0 -> two invalid_indicator with python-repr domains") {
    val vs = fld("010", "10$a2001627090")
    assert(vs.map(_.rule_id) == Seq("invalid_indicator", "invalid_indicator"))
    assert(vs.head.msg == "010 ind1: Invalid data (1). Indicator should be ['', ' '].")
    assert(vs(1).msg == "010 ind2: Invalid data (0). Indicator should be ['', ' '].")
    assert(vs.head.loc == Seq("fields", "010", "ind1"))
  }

  test("050 indicator domains: ind1 in ['',' ','0','1'], ind2 in ['0','4']") {
    assert(fld("050", " 4$aF00").isEmpty)
    val vs = fld("050", "96$aF00")
    assert(vs.map(_.code) == Seq("ind1", "ind2"))
    assert(vs.head.msg == "050 ind1: Invalid data (9). Indicator should be ['', ' ', '0', '1'].")
  }

  // --- subfields (reference tests/test_fields.py:317-348,427-458) ---------
  test("010 repeated non-repeatable $a -> non_repeatable_subfield") {
    val vs = fld("010", "  $a200$a201")
    assert(vs.map(v => (v.rule_id, v.loc.mkString("/"))) ==
      Seq(("non_repeatable_subfield", "fields/010/a")))
    assert(vs.head.msg == "010 $a: Subfield cannot repeat.")
  }

  test("010 $c / 020 $t -> subfield_not_allowed") {
    assert(fld("010", "  $c5").head.msg == "010 $c: Subfield cannot be defined in this field.")
    assert(fld("020", "  $tbad").head.msg == "020 $t: Subfield cannot be defined in this field.")
  }

  test("non-repeatable violations precede invalid-code violations within a field") {
    val vs = fld("010", "  $a1$a2$c5")
    assert(vs.map(_.rule_id) == Seq("non_repeatable_subfield", "subfield_not_allowed"))
  }

  test("repeatable subfield may repeat") {
    assert(fld("020", "  $z1$z2").isEmpty)
  }

  // --- record-level + edge policies ---------------------------------------
  test("unknown tag 900/910 skips all checks (reference validators.py:132-135)") {
    assert(fld("900", "99$q!!$q!!").isEmpty)
    assert(fld("910", "  $aRL").isEmpty)
  }

  test("holdings tag 841 (rules with null domains) skips indicator+subfield checks (§1.5.2)") {
    assert(fld("841", "zz$a?$a?").isEmpty)
  }

  test("tag pattern is an unanchored search: '1234' and 'x100' pass shape, '01a' fails (§1.5.5-6)") {
    assert(fld("1234", "  $aV").isEmpty) // matches unanchored, unknown tag -> skip
    // 'x100' contains match '100' -> shape passes; but counts as a 1XX? No:
    // startswith('1') is false for 'x100', and rules lookup misses -> skip
    assert(fld("x100", "  $aV").isEmpty)
    val vs = fld("01a", "  $aV")
    assert(vs.map(_.rule_id) == Seq("string_pattern_mismatch"))
    assert(vs.head.msg == "String should match pattern '0[1-9]\\d|[1-9]\\d\\d'")
  }

  test("media spans and LDR are excluded from MARC field checks") {
    val vs = run(Fixtures.validDoc.spans)
    assert(vs.isEmpty)
  }

  test("required-field violations come in rule-table order: 008 before 245") {
    val vs = run(Seq(Span("LDR", "00454cam a22001575i 4500", null, 0)))
    assert(vs.map(_.rule_id) == Seq("missing_required_field", "missing_required_field"))
    assert(vs.map(_.tag) == Seq("008", "245"))
  }

  test("1XX exclusivity counts unknown 1xx tags and repeats, in first-occurrence order") {
    val vs = run(Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("008", "x" * 40, null, 1), Span("245", "00$aT", null, 2),
      Span("110", "1 $aB", null, 3), Span("100", "1 $aA", null, 4),
      Span("100", "1 $aA", null, 5)))
    val m = vs.filter(_.rule_id == "multiple_1xx_fields")
    assert(m.size == 1)
    assert(m.head.msg ==
      "1XX: Only one 1XX tag is allowed. Record contains: ['110', '100', '100']")
    // the repeat also trips non_repeatable_field for 100
    assert(vs.exists(v => v.rule_id == "non_repeatable_field" && v.tag == "100"))
  }

  test("a null span kind skips the record-level checks instead of failing the job") {
    val ldr = Span("LDR", "00454cam a22001575i 4500", null, 0)
    val nul = Span(null, null, null, 1)
    def ids(spans: Span*): Seq[(String, String)] = run(spans).map(v => (v.rule_id, v.tag))
    assert(ids(ldr, nul, Span("245", "00$aT", null, 2)) ==
      Seq(("missing_required_field", "008"), ("string_pattern_mismatch", null)))
    assert(ids(ldr, nul) == Seq(("missing_required_field", "008"),
      ("missing_required_field", "245"), ("string_pattern_mismatch", null)))
    // two null kinds are not a repeated tag, and a 1XX next to them stays alone
    assert(ids(ldr, Span("008", "x" * 40, null, 1), nul, Span("100", "1 $aA", null, 3), nul,
      Span("245", "00$aT", null, 5)) ==
      Seq(("string_pattern_mismatch", null), ("string_pattern_mismatch", null)))
  }

  // --- subfield text codec --------------------------------------------------
  test("subfield parse reads span text, including $$ escapes") {
    assert(MarcValidator.parseSubfields("00$aTitle :$bhas $$ sign$c$d$$$$") ==
      Seq(('a', "Title :"), ('b', "has $ sign"), ('c', ""), ('d', "$$")))
    assert(MarcValidator.parseSubfields("00$aTitle :$bsubtitle /$cAuthor") ==
      Seq(('a', "Title :"), ('b', "subtitle /"), ('c', "Author")))
  }

  // --- rule overrides (reference validators.py:27-72, tests/test_validators.py:24-109)
  test("rule overrides: making 001 repeatable removes the violation") {
    import graft.rules.TagRule
    val spans = Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("008", "x" * 40, null, 1), Span("245", "00$aT", null, 2),
      Span("001", "a", null, 3), Span("001", "b", null, 4))
    assert(MarcValidator.validate(spans, rules).map(_.rule_id) == Seq("non_repeatable_field"))
    val relaxed = rules.withOverrides(Map("001" ->
      Some(TagRule(repeatable = true, None, None, None, None, required = false))))
    assert(MarcValidator.validate(spans, relaxed).isEmpty)
    val dropped = rules.withOverrides(Map("001" -> None))
    assert(MarcValidator.validate(spans, dropped).isEmpty)
  }
}
