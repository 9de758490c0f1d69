package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.{RuleJson, RuleSet}
import graft.schema.{DocSchema, Span, Violation}

/** Row-at-a-time bridge between Tungsten rows and the pure Scala kernel.
  * One instance per plan (rules are plan constants — the reference resolves
  * rules by dict lookup per field, /root/reference/pydantic_marc/validators.py:59;
  * here the whole table rides along as a codegen reference object, so the
  * per-row pass is a single fused function call with zero lookups or joins).
  *
  * Scope resolution (reference check_marc_rules, validators.py:27-72):
  *   - `rules`: plan-constant record-scope table (drives record-level AND,
  *     absent a context, field-level checks);
  *   - `contextRules`: plan-constant context scope — overrides the table
  *     FIELD checks resolve against, but never the record-level checks
  *     (validators.py:221-239 reads the record scope unconditionally);
  *   - per-ROW `recordRulesJson` (string column): data-driven record scope,
  *     replacing `rules` for that row entirely;
  *   - per-SPAN `spanRulesJson` (array<string> column): data-driven field
  *     scope, winning over everything for the spans where it is non-null.
  *
  * Rows with any data-driven override take the full-validation path; the
  * allocation-free fast path continues to serve override-free rows, with
  * its field/record tables split the same way (context vs record).
  */
final class ValidatorKernel(val rules: RuleSet, val contextRules: Option[RuleSet])
    extends Serializable {

  def this(rules: RuleSet) = this(rules, None)

  private val fieldDefault = contextRules.getOrElse(rules)
  private val fastCheck = new FastCheck(fieldDefault, rules)
  /** The result of every doc FastCheck proves clean; the full path always
    * returns a fresh array, so `eq` tells the two apart.
    */
  val noViolations: ArrayData = new GenericArrayData(Array.empty[Any])

  /** (kinds, texts) ArrayData pair -> violations ArrayData. The
    * allocation-light fast path proves the common clean-doc case (FastCheck);
    * only ambiguous or failing docs pay for the full decode + check +
    * message rendering.
    */
  def validate(kinds: ArrayData, texts: ArrayData): ArrayData =
    if (fastCheck.clean(kinds, texts)) noViolations
    else validateFull(kinds, texts, rules, fieldDefault, _ => None)

  /** The expression's one entry: recordJson/spanRules may be null (no
    * override), and with neither set this is [[validate]].
    */
  def validateOverride(kinds: ArrayData, texts: ArrayData,
      recordJson: UTF8String, spanRules: ArrayData): ArrayData = {
    val hasSpanRules = spanRules != null && {
      var any = false; var i = 0
      while (!any && i < spanRules.numElements()) {
        any = !spanRules.isNullAt(i); i += 1
      }
      any
    }
    if (recordJson == null && !hasSpanRules) return validate(kinds, texts)
    val recordTable =
      if (recordJson == null) rules else RuleJson.parseCached(recordJson.toString)
    // context still outranks the row's record scope for FIELD checks
    // (validators.py:52-55: context wins whenever provided)
    val fieldTable = contextRules.getOrElse(recordTable)
    val perSpan: Int => Option[RuleSet] =
      if (!hasSpanRules) _ => None
      else i =>
        if (i < spanRules.numElements() && !spanRules.isNullAt(i))
          Some(RuleJson.parseCached(spanRules.getUTF8String(i).toString))
        else None
    validateFull(kinds, texts, recordTable, fieldTable, perSpan)
  }

  private def validateFull(kinds: ArrayData, texts: ArrayData,
      recordTable: RuleSet, fieldTable: RuleSet,
      perSpan: Int => Option[RuleSet]): ArrayData = {
    val n = kinds.numElements()
    val nt = texts.numElements()
    val decoded = new Array[Span](n)
    var i = 0
    while (i < n) {
      decoded(i) = Span(
        if (kinds.isNullAt(i)) null else kinds.getUTF8String(i).toString,
        if (i >= nt || texts.isNullAt(i)) null else texts.getUTF8String(i).toString,
        null, i)
      i += 1
    }
    val vs = MarcValidator.validate(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(decoded),
      recordTable, fieldTable, perSpan)
    new GenericArrayData(vs.map(toRow).toArray[Any])
  }

  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def toRow(v: Violation): InternalRow = {
    val keys = new GenericArrayData(v.ctx.keys.map(k => u(k)).toArray[Any])
    val vals = new GenericArrayData(v.ctx.values.map(x => u(x)).toArray[Any])
    InternalRow(
      u(v.rule_id),
      new GenericArrayData(v.loc.map(l => u(l)).toArray[Any]),
      u(v.tag), u(v.code), u(v.msg), u(v.input),
      new ArrayBasedMapData(keys, vals))
  }
}

/** Catalyst expression `validate_marc(kinds, texts, record_rules,
  * span_rules)` -> `array<struct<violation>>`, over the two parallel
  * span-field arrays (`spans.kind`, `spans.text`) plus the data-driven
  * rule-override columns (typed null literals when a caller has none).
  *
  * Custom because the check bundle (escape-aware subfield parsing, per-code
  * counters, Python-repr message rendering across 241 tag rules) is not
  * expressible as built-in columns without a 241-branch `when` chain that
  * would blow the codegen method-size limit. This stays inside whole-stage
  * codegen: `doGenCode` emits a single call on a reference object.
  *
  * Taking the extracted field arrays (instead of the array-of-struct column)
  * keeps Catalyst's nested-schema pruning alive: the parquet scan reads only
  * the kind/text leaf columns of `spans` (verified by plan inspection in
  * RowValidatorSpec), with no `arrays_zip` row materialization in between.
  */
case class ValidateSpans(kinds: Expression, texts: Expression,
    recordRules: Expression, spanRules: Expression, rules: RuleSet,
    contextRules: Option[RuleSet]) extends Expression {

  override def children: Seq[Expression] = Seq(kinds, texts, recordRules, spanRules)
  // null overrides mean "no override": only a null kinds/texts nulls the result
  override def nullable: Boolean = kinds.nullable || texts.nullable
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = true

  private def isStringArray(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isStringArray(kinds.dataType) && isStringArray(texts.dataType) &&
        recordRules.dataType == StringType && isStringArray(spanRules.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "validate_marc expects (array<string>, array<string>, string, " +
        s"array<string>), got ${children.map(_.dataType.sql).mkString(", ")}")

  @transient private lazy val kernel: ValidatorKernel =
    new ValidatorKernel(rules, contextRules)

  override def dataType: DataType =
    ArrayType(DocSchema.violationType, containsNull = false)

  override def prettyName: String = "validate_marc"

  // keep the (large) rule table out of plan strings
  override def flatArguments: Iterator[Any] = children.iterator
  override def toString: String = s"validate_marc(${children.mkString(", ")})"
  override def sql: String = s"validate_marc(${children.map(_.sql).mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val k = kinds.eval(input)
    val t = texts.eval(input)
    if (k == null || t == null) null
    else kernel.validateOverride(k.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData],
      recordRules.eval(input).asInstanceOf[UTF8String],
      spanRules.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kernelRef =
      ctx.addReferenceObj("marcKernel", kernel, classOf[ValidatorKernel].getName)
    val Seq(k, t, rr, sr) = children.map(_.genCode(ctx))
    val javaType = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code = code"""
      ${k.code}
      ${t.code}
      ${rr.code}
      ${sr.code}
      boolean ${ev.isNull} = ${k.isNull} || ${t.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = ($javaType) $kernelRef.validateOverride(${k.value}, ${t.value},
          ${rr.isNull} ? null : ${rr.value}, ${sr.isNull} ? null : ${sr.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ValidateSpans =
    copy(kinds = c(0), texts = c(1), recordRules = c(2), spanRules = c(3))
}

object ValidateSpans {
  /** Column form: context scope (plan constant) plus the data-driven
    * record/span override columns (typed nulls when absent).
    */
  def apply(kinds: Column, texts: Column, recordRules: Column, spanRules: Column,
      rules: RuleSet, contextRules: Option[RuleSet]): Column =
    Bridge.column(ValidateSpans(Bridge.expression(kinds), Bridge.expression(texts),
      Bridge.expression(recordRules), Bridge.expression(spanRules), rules, contextRules))
}
