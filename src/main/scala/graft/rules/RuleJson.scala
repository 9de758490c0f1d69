package graft.rules

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON codec for data-driven rule overrides, accepting exactly the
  * reference's declarative rule-dict shape (rules.py entries;
  * /root/reference/pydantic_marc/rules.py:8-25):
  *
  * {"245": {"repeatable": false,
  *          "ind1": ["0", "1"], "ind2": ["0", ...],
  *          "subfields": {"valid": ["a", ...], "repeatable": [...],
  *                        "non_repeatable": [...]},
  *          "length": 18 | [6, 14] | {"a": 8, "c": [6, 14], ...},
  *          "required": true},
  *  "001": {}}            // empty dict = tag present, zero checks
  *
  * An empty per-tag dict mirrors the reference's `{}` rules (all checks
  * skip, validators.py:59 `rules.get(tag, {})`); tags absent from the map
  * have no rules at all — identical behavior for field checks, but absent
  * tags also drop out of required/non-repeatable record checks.
  */
object RuleJson {

  private def lenSpec(v: JValue): RuleSet.LenSpec = v match {
    case JInt(n) => RuleSet.LenSpec(Seq(n.toInt), n.toString)
    case JArray(xs) =>
      val is = xs.collect { case JInt(n) => n.toInt }
      RuleSet.LenSpec(is, is.mkString("[", ", ", "]")) // Python list repr
    case other => throw new IllegalArgumentException(s"bad length spec: $other")
  }

  private def strList(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case JString(s) => Seq(s)
    case other      => throw new IllegalArgumentException(s"bad string list: $other")
  }

  private def tagRule(v: JValue): TagRule = {
    val o = v.asInstanceOf[JObject].obj.toMap
    val subfields = o.get("subfields").collect { case JObject(sf) =>
      val m = sf.toMap
      def codes(k: String): String =
        m.get(k).map(strList(_).mkString).getOrElse("")
      RuleSet.Sf(codes("valid"), codes("repeatable"), codes("non_repeatable"))
    }
    val length = o.get("length").collect {
      case JObject(byChar) =>
        RuleSet.MaterialLen(byChar.map { case (c, sp) => c -> lenSpec(sp) }.toMap)
      case v @ (JInt(_) | JArray(_)) => RuleSet.FixedLen(lenSpec(v))
    }
    TagRule(
      repeatable = o.get("repeatable").collect { case JBool(b) => b }.getOrElse(true),
      ind1 = o.get("ind1").map(strList),
      ind2 = o.get("ind2").map(strList),
      subfields = subfields,
      length = length,
      required = o.get("required").collect { case JBool(b) => b }.getOrElse(false))
  }

  /** Parse a {tag: ruleDict} JSON object into a RuleSet (insertion order
    * preserved — required-field violations iterate it in key order like the
    * reference's dict).
    */
  def parse(json: String): RuleSet = {
    val obj = JsonMethods.parse(json).asInstanceOf[JObject]
    RuleSet(obj.obj.map { case (tag, v) => tag -> tagRule(v) }.toVector)
  }
}
