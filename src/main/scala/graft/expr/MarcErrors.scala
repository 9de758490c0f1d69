package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Violation

/** Per-record error serialization — the engine's analog of pydantic's
  * `ValidationError.json()` and `str(e)` renderings
  * (/root/reference/README.md:96-176 shows both for an invalid record).
  *
  * `json`: compact JSON array, per-error key order (type, loc, msg, input,
  * ctx) matching pydantic-core's ErrorDetails; list-typed reference inputs
  * (multiple_1xx tag lists, subfield model lists) render as JSON arrays,
  * reconstructed from the violation's ctx.
  *
  * `human`: byte-parity with pydantic's `str(e)` — "N validation errors for
  * MarcRecord", then per error "loc.joined\n  msg [type=..., input_value=...,
  * input_type=...]" with pydantic-core's input repr truncation (over 50
  * chars: first 25 + "..." + last 24).
  */
object MarcErrors {

  private val US = "\u001f"

  /** The items of a list-typed reference input, or None for a scalar one:
    * a multiple_1xx_fields error lists its tags (loc = fields :: tags), a
    * subfield error its PydanticSubfield objects, held as their reprs.
    */
  private def listItems(v: Violation): Option[Seq[String]] = v.rule_id match {
    case "multiple_1xx_fields" => Some(v.loc.drop(1))
    case "non_repeatable_subfield" | "subfield_not_allowed" =>
      val values = v.ctx.get("values").map(_.split(US, -1).toSeq).getOrElse(Seq.empty)
      Some(values.map(x =>
        s"PydanticSubfield(code=${MarcValidator.pyRepr(v.code)}, value=${MarcValidator.pyRepr(x)})"))
    case _ => None
  }

  // ---- human format (pydantic str(e)) ------------------------------------

  private def truncateRepr(s: String): String =
    if (s.length > 52) s.substring(0, 25) + "..." + s.substring(s.length - 24) else s

  def human(violations: Seq[Violation], title: String = "MarcRecord"): String = {
    val n = violations.length
    val sb = new java.lang.StringBuilder
    sb.append(n).append(" validation error").append(if (n == 1) "" else "s")
      .append(" for ").append(title)
    violations.foreach { v =>
      sb.append('\n').append(v.loc.mkString("."))
      val (inputValue, inputType) = listItems(v) match {
        case Some(items) =>
          // tags are Python strs; subfield items are already reprs
          val reprs =
            if (v.rule_id == "multiple_1xx_fields") items.map(MarcValidator.pyRepr) else items
          (reprs.mkString("[", ", ", "]"), "list")
        case None if v.input == null => ("None", "NoneType")
        case None => (MarcValidator.pyRepr(v.input), "str")
      }
      sb.append("\n  ").append(v.msg)
        .append(" [type=").append(v.rule_id)
        .append(", input_value=").append(truncateRepr(inputValue))
        .append(", input_type=").append(inputType).append(']')
    }
    sb.toString
  }

  // ---- json format (pydantic e.json()) ------------------------------------

  private def jstr(sb: java.lang.StringBuilder, s: String): Unit = MarcJson.esc(sb, s)

  def json(violations: Seq[Violation]): String = {
    val sb = new java.lang.StringBuilder
    sb.append('[')
    var first = true
    violations.foreach { v =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"type\":"); jstr(sb, v.rule_id)
      sb.append(",\"loc\":[")
      v.loc.zipWithIndex.foreach { case (l, i) =>
        if (i > 0) sb.append(','); jstr(sb, l)
      }
      sb.append("],\"msg\":"); jstr(sb, v.msg)
      sb.append(",\"input\":")
      listItems(v) match {
        case Some(items) =>
          sb.append('[')
          items.zipWithIndex.foreach { case (x, i) =>
            if (i > 0) sb.append(','); jstr(sb, x)
          }
          sb.append(']')
        case None if v.input == null => sb.append("null")
        case None => jstr(sb, v.input)
      }
      sb.append(",\"ctx\":{")
      v.ctx.zipWithIndex.foreach { case ((k, value), i) =>
        if (i > 0) sb.append(',')
        jstr(sb, k); sb.append(':')
        if (value == null) sb.append("null") else jstr(sb, value)
      }
      sb.append("}}")
    }
    sb.append(']')
    sb.toString
  }

  /** `marc_errors_json(violations)` -> string: [[json]] over the fields of
    * a violations array, taken by name. Null violations give null.
    */
  def jsonColumn(violations: Column): Column =
    Bridge.invoke(MarcErrors, "jsonFields", StringType,
      Seq("rule_id", "loc", "tag", "code", "msg", "input", "ctx").map(violations(_)))

  /** [[jsonColumn]]'s kernel over the parallel violation field arrays. */
  def jsonFields(ruleIds: ArrayData, locs: ArrayData, tags: ArrayData, codes: ArrayData,
      msgs: ArrayData, inputs: ArrayData, ctxs: ArrayData): UTF8String = {
    def str(a: ArrayData, i: Int) = if (a.isNullAt(i)) null else a.getUTF8String(i).toString
    def strs(a: ArrayData) = (0 until a.numElements()).map(str(a, _))
    UTF8String.fromString(json((0 until ruleIds.numElements()).map { i =>
      val ctx = ctxs.getMap(i)
      Violation(str(ruleIds, i), strs(locs.getArray(i)), str(tags, i), str(codes, i),
        str(msgs, i), str(inputs, i), strs(ctx.keyArray()).zip(strs(ctx.valueArray())).toMap)
    }))
  }
}
