package graft.rules

/** Per-tag validation rule, mirroring the reference's six-key rule entries
  * (/root/reference/pydantic_marc/rules.py:8-25 documents the shape).
  *
  * @param repeatable    may the tag occur more than once per record
  * @param ind1          closed value domain for indicator 1 (None = no check;
  *                      the reference stores both "" and " " as distinct members)
  * @param ind2          closed value domain for indicator 2
  * @param subfields     valid/repeatable/non-repeatable code partition (None for
  *                      control tags and holdings tags 841-878)
  * @param length        expected data length for control fields (006/007/008 only)
  * @param required      must the tag appear at least once per record (008, 245)
  */
final case class TagRule(
    repeatable: Boolean,
    ind1: Option[Seq[String]],
    ind2: Option[Seq[String]],
    subfields: Option[RuleSet.Sf],
    length: Option[RuleSet.LengthRule],
    required: Boolean)
    extends Serializable

/** An ordered rule table (insertion order matters: the reference iterates the
  * rule dict in key order when emitting missing-required-field violations,
  * /root/reference/pydantic_marc/validators.py:231-235).
  *
  * Rules are plan-time constants: a RuleSet is embedded in the validator
  * expression, never joined (the reference resolves rules by dict lookup,
  * validators.py:59).
  */
final case class RuleSet(entries: Vector[(String, TagRule)]) extends Serializable {
  @transient lazy val byTag: Map[String, TagRule] = entries.toMap
  def get(tag: String): Option[TagRule] = byTag.get(tag)

  /** Tags with repeatable=false, in rule-table order. */
  @transient lazy val nonRepeatableTags: Set[String] =
    entries.collect { case (t, r) if !r.repeatable => t }.toSet

  /** Tags with required=true, in rule-table order (008 before 245). */
  @transient lazy val requiredTags: Vector[String] =
    entries.collect { case (t, r) if r.required => t }

  /** Override semantics mirroring the reference's three scopes
    * (validators.py:27-72): a per-run override replaces/merges tag entries.
    * Plans are rebuilt per RuleSet, so overrides stay plan constants.
    */
  def withOverrides(overrides: Map[String, Option[TagRule]]): RuleSet = {
    val kept = entries.flatMap { case (t, r) =>
      overrides.get(t) match {
        case None           => Some(t -> r)
        case Some(Some(nr)) => Some(t -> nr)
        case Some(None)     => None // tombstone: drop the tag's rules entirely
      }
    }
    val added = overrides.collect {
      case (t, Some(r)) if !byTag.contains(t) => t -> r
    }.toVector
    RuleSet(kept ++ added)
  }
}

object RuleSet {
  /** Subfield code partition; codes are single chars packed into strings. */
  final case class Sf(valid: String, repeatable: String, nonRepeatable: String)
      extends Serializable {
    // built once per rule, not per subfield code tested; transient, so the
    // serialized form stays the three strings
    @transient lazy val validSet: Set[Char] = valid.toSet
    @transient lazy val nonRepeatableSet: Set[Char] = nonRepeatable.toSet
  }

  /** Acceptable lengths plus the reference's rendered form ("18" / "[6, 14]")
    * used verbatim in violation messages.
    */
  final case class LenSpec(ok: Seq[Int], rendered: String) extends Serializable

  sealed trait LengthRule extends Serializable
  /** Scalar or any-of list of acceptable lengths (006 -> 18, 008 -> 40). */
  final case class FixedLen(spec: LenSpec) extends LengthRule
  /** 007: expected length dispatched on the first (material-category) char. */
  final case class MaterialLen(byChar: Map[String, LenSpec]) extends LengthRule

  def default: RuleSet = MarcRules.default
}
