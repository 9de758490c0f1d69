package graft.expr

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.{RuleJson, RuleSet}
import graft.schema.{DocSchema, Violation}

/** Row-at-a-time bridge between Tungsten rows and the [[FastCheck]] walk.
  * One instance per plan (rules are plan constants — the reference resolves
  * rules by dict lookup per field, /root/reference/pydantic_marc/validators.py:59;
  * here the whole table rides along as a codegen reference object, so the
  * per-row pass is a single fused function call with zero lookups or joins).
  * [[validate]] proves a doc clean without rendering; only a doc it cannot
  * prove is walked again with rendering.
  *
  * Scope resolution (reference check_marc_rules, validators.py:27-72):
  * `rules` is the record scope; `contextRules`, when set, the scope FIELD
  * checks resolve against, never the record checks (validators.py:221-239);
  * a per-ROW `recordRulesJson` replaces `rules` for that row, whose walk
  * uses that table's coded form, built once per distinct JSON; a per-SPAN
  * `spanRulesJson` wins for the spans where it is non-null.
  */
final class ValidatorKernel(val rules: RuleSet, val contextRules: Option[RuleSet])
    extends Serializable {

  def this(rules: RuleSet) = this(rules, None)

  val fastCheck = new FastCheck(contextRules.getOrElse(rules), rules)
  /** The result of every doc FastCheck proves clean; the full path always
    * returns a fresh array, so `eq` tells the two apart.
    */
  val noViolations: ArrayData = new GenericArrayData(Array.empty[Any])

  /** (kinds, texts) ArrayData pair -> violations ArrayData: the clean proof,
    * then, for a doc it cannot prove, the rendering walk.
    */
  def validate(kinds: ArrayData, texts: ArrayData): ArrayData =
    if (fastCheck.clean(kinds, texts)) noViolations
    else validateFull(fastCheck.spans(kinds, texts))

  /** The rendering walk alone, for a doc [[fastCheck]] did not prove clean:
    * a fresh violations array, empty when the doc has none.
    */
  def validateFull(spans: FastCheck.Spans): ArrayData =
    rows(fastCheck.violations(spans, FastCheck.NoSpanTables))

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
    // context still outranks the row's record scope for FIELD checks
    // (validators.py:52-55: context wins whenever provided)
    val coded =
      if (recordJson == null) fastCheck
      else cached(codedByJson, recordJson) { json =>
        val table = RuleJson.parse(json)
        new FastCheck(contextRules.getOrElse(table), table)
      }
    val perSpan: Int => Option[RuleSet] =
      if (!hasSpanRules) FastCheck.NoSpanTables
      else i =>
        if (i < spanRules.numElements() && !spanRules.isNullAt(i))
          Some(cached(tableByJson, spanRules.getUTF8String(i))(RuleJson.parse))
        else None
    rows(coded.violations(coded.spans(kinds, texts), perSpan))
  }

  // the coded forms of the row record tables and the parsed span tables,
  // keyed by the JSON bytes the row carries, so a hit decodes no String (no
  // table is compared by value; the context is this kernel's constant)
  @transient private lazy val codedByJson = new ConcurrentHashMap[UTF8String, FastCheck]()
  @transient private lazy val tableByJson = new ConcurrentHashMap[UTF8String, RuleSet]()

  /** The map's value for `json`, built from its text on a miss. The key is
    * copied only when inserted, since a row's string may point into a
    * reused buffer; a full map (4096 JSONs) is cleared, not grown.
    */
  private def cached[V](map: ConcurrentHashMap[UTF8String, V], json: UTF8String)(
      build: String => V): V = {
    val hit = map.get(json)
    if (hit != null) return hit
    val built = build(json.toString)
    if (map.size >= 4096) map.clear()
    map.put(json.copy(), built)
    built
  }

  private def rows(vs: Seq[Violation]): ArrayData = new GenericArrayData(vs.map(v =>
    InternalRow.fromSeq(v.productIterator.map(CatalystTypeConverters.convertToCatalyst).toSeq)))
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
