package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Span

/** Canonical record serialization — the engine's analog of the reference's
  * `model_dump()` (/root/reference/pydantic_marc/models.py:89-95; field
  * shapes fields.py:66-69,117-128):
  *
  *   {"leader": <str>, "fields": [{tag: data} | {tag: {ind1, ind2,
  *    subfields: [{code: value}]}}, ...]}
  *
  * Python-json.dumps default separators (", " / ": ") for byte parity with
  * the reference's dumps. Media spans are an engine extension with no
  * reference analog and are omitted.
  */
object MarcJson {

  /** Python json.dumps default escaping, byte-exact: two-char escapes for
    * `" \\ \n \r \t \b \f`, \\uXXXX for other control chars AND (dumps
    * defaults to ensure_ascii=True) every char >= 0x80 — surrogate halves of
    * a Java String render as their own \\uXXXX, matching CPython's UTF-16
    * surrogate-pair rendering of astral chars.
    */
  private[expr] def esc(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case x if x < ' ' || x >= 0x80 => sb.append(f"\\u${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.append('"')
  }

  def serialize(spans: Seq[Span]): String = {
    val sb = new java.lang.StringBuilder
    sb.append("{\"leader\": ")
    val ldr = spans.headOption.filter(_.kind == "LDR").map(_.text).getOrElse("")
    esc(sb, if (ldr == null) "" else ldr)
    sb.append(", \"fields\": [")
    var first = true
    spans.foreach { s =>
      if (s.kind != "LDR" && s.kind != "media") {
        if (!first) sb.append(", ")
        first = false
        sb.append('{')
        esc(sb, s.kind); sb.append(": ")
        val text = if (s.text == null) "" else s.text
        if (s.kind != null && s.kind.startsWith("00")) esc(sb, text)
        else {
          val ind1 = if (text.length >= 1) text.substring(0, 1) else ""
          val ind2 = if (text.length >= 2) text.substring(1, 2) else ""
          sb.append("{\"ind1\": "); esc(sb, ind1)
          sb.append(", \"ind2\": "); esc(sb, ind2)
          sb.append(", \"subfields\": [")
          val subs = MarcValidator.parseSubfields(text)
          var sf = true
          subs.foreach { case (c, v) =>
            if (!sf) sb.append(", ")
            sf = false
            sb.append('{'); esc(sb, c.toString); sb.append(": "); esc(sb, v); sb.append('}')
          }
          sb.append("]}")
        }
        sb.append('}')
      }
    }
    sb.append("]}")
    sb.toString
  }

  /** `marc_json(spans)` -> string: [[serialize]] over the `kind` and `text`
    * fields of a spans array, taken by name, so the scan reads only those
    * two leaves. Null spans give null.
    */
  def column(spans: Column): Column =
    Bridge.invoke(MarcJson, "serializeFields", StringType, Seq(spans("kind"), spans("text")))

  /** [[column]]'s kernel over the parallel kind and text arrays. */
  def serializeFields(kinds: ArrayData, texts: ArrayData): UTF8String = {
    def str(a: ArrayData, i: Int) = if (a.isNullAt(i)) null else a.getUTF8String(i).toString
    UTF8String.fromString(serialize(
      (0 until kinds.numElements()).map(i => Span(str(kinds, i), str(texts, i), null, i))))
  }
}
