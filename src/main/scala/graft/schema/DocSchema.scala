package graft.schema

import org.apache.spark.sql.types._

/** One span of an interleaved text+media document (the engine's input row
  * element, per the canonical span encoding in /root/repo/FIXTURES.md §2):
  *   - kind = "LDR" | MARC tag ("001".."887"...) | "media"
  *   - text = leader chars | control-field data | ind1+ind2+"$code value..."
  *   - media_ref = asset id, non-null only for kind="media"
  *   - offset = 0-based position; defines span order
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One interleaved document: the engine's unit of validation. Mirrors the
  * reference's MarcRecord object tree (/root/reference/pydantic_marc/models.py:46-95)
  * flattened to one row.
  */
final case class Doc(doc_id: String, spans: Seq[Span])

/** One structured violation row — the engine's analog of one entry of
  * pydantic's ValidationError.errors()
  * (/root/reference/pydantic_marc/errors.py:18-29 for loc derivation;
  * message templates errors.py:32-187).
  */
final case class Violation(
    rule_id: String,
    loc: Seq[String],
    tag: String,            // null for record-level rules without a single tag
    code: String,           // subfield code / indicator name where applicable
    msg: String,
    input: String,
    ctx: Map[String, String])

object DocSchema {
  val violationType: StructType = StructType(Seq(
    StructField("rule_id", StringType, nullable = false),
    StructField("loc", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("tag", StringType, nullable = true),
    StructField("code", StringType, nullable = true),
    StructField("msg", StringType, nullable = false),
    StructField("input", StringType, nullable = true),
    StructField("ctx", MapType(StringType, StringType, valueContainsNull = true),
      nullable = false)))
}
