package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.MarcJson
import graft.gen.Fixtures

/** Serialization parity with the reference's model_dump()
  * (/root/reference/pydantic_marc/models.py:89-95) — expected strings are
  * the reference's actual json.dumps output on the same record.
  */
class MarcJsonSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val expectedValidDump: String =
    """{"leader": "00454cam a22001575i 4500", "fields": [{"001": "on1381158740"}, """ +
      """{"008": "190306s2017    ht a   j      000 1 hat d"}, """ +
      """{"050": {"ind1": " ", "ind2": "4", "subfields": [{"a": "F00"}]}}, """ +
      """{"245": {"ind1": "0", "ind2": "0", "subfields": [{"a": "Title :"}, {"b": "subtitle /"}, {"c": "Author"}]}}, """ +
      """{"300": {"ind1": " ", "ind2": " ", "subfields": [{"a": "100 pages :"}]}}, """ +
      """{"910": {"ind1": " ", "ind2": " ", "subfields": [{"a": "RL"}]}}]}"""

  test("scala serializer matches the reference dump byte-for-byte (media omitted)") {
    assert(MarcJson.serialize(Fixtures.validDoc.spans) == expectedValidDump)
  }

  test("subfield $$ escapes round-trip through the dump") {
    import graft.schema.Span
    val spans = Seq(Span("LDR", "00454cam a22001575i 4500", null, 0),
      Span("500", "00$ahas $$ sign", null, 1))
    assert(MarcJson.serialize(spans).contains("""{"a": "has $ sign"}"""))
  }

  test("the Catalyst expression produces the same dump distributed") {
    import spark.implicits._
    val df = Seq(Fixtures.validDoc).toDF()
    val got = df.select(MarcJson.column($"spans")).collect().head.getString(0)
    assert(got == expectedValidDump)
  }
}
