package graft.io

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.schema.{Span, Violation}

/** ISO 2709 / MARC21 binary ("*.mrc") codec: the reference's documented
  * entry path starts from binary MARC via `pymarc.MARCReader`
  * (/root/reference/README.md:12,24-28); this codec turns the same bytes
  * into the engine's span encoding (FIXTURES.md §2) and back.
  *
  * Record layout (MARC21 spec / pymarc reader semantics):
  *   - leader: 24 bytes; [0,5) record length, [12,17) base address of data
  *   - directory: 12-byte entries (tag 3, field length 4, start offset 5),
  *     terminated by FIELD_TERM at base-1
  *   - fields at base+start, each ending with FIELD_TERM; control fields
  *     (tag < "010", pymarc field.py is_control_field) are raw data; data
  *     fields are ind1 ind2 then (SUB_DELIM code value)*
  *   - record ends with RECORD_TERM
  *
  * Span text encoding of a data field: ind1+ind2 then "$"+code+value per
  * subfield, with literal '$' in values escaped as "$$" (FIXTURES.md §2).
  *
  * Malformed structure cannot raise (violations are data, never exceptions):
  * undecodable records/fields emit `string_type` violations at decode, per
  * the engine's policy for the reference's wrong-type crash paths
  * (SURVEY.md §1.5.7 — pydantic would raise string_type for non-string
  * field input; a broken byte structure is the binary-world equivalent).
  */
object MarcCodec {

  val RecordTerm: Byte = 0x1d
  val FieldTerm: Byte = 0x1e
  val SubDelim: Byte = 0x1f

  final case class DecodedRecord(spans: Vector[Span], decodeViolations: Vector[Violation])

  private def stringTypeViolation(loc: Seq[String], what: String): Violation =
    Violation("string_type", loc, loc.lastOption.orNull, null,
      "Input should be a valid string", what, Map("input" -> what))

  private def utf8(bytes: Array[Byte], from: Int, until: Int): String =
    new String(bytes, from, math.max(0, until - from), StandardCharsets.UTF_8)

  private def digits(bytes: Array[Byte], from: Int, until: Int): Option[Int] = {
    var v = 0; var i = from
    if (until > bytes.length || from >= until) return None
    while (i < until) {
      val b = bytes(i)
      if (b < '0' || b > '9') return None
      v = v * 10 + (b - '0'); i += 1
    }
    Some(v)
  }

  /** Decode every record in a buffer (one .mrc file). Framing follows
    * pymarc's MARCReader: records are length-prefixed via leader[0,5), and
    * the last byte of a record is its RECORD_TERM (the only one in it). On
    * a bad length prefix, a missing or misplaced terminator, or a tail too
    * short for a prefix, the remainder of the buffer is skipped with one
    * violation-only record (a resync scan could over-read silently — the
    * loud option is the safe one for a validation engine).
    */
  def decodeStream(bytes: Array[Byte]): Iterator[DecodedRecord] = new Iterator[DecodedRecord] {
    private var pos = 0
    private def skipTerms(): Unit =
      while (pos < bytes.length &&
        (bytes(pos) == RecordTerm || bytes(pos) == '\n' || bytes(pos) == '\r')) pos += 1
    skipTerms()
    override def hasNext: Boolean = pos < bytes.length
    override def next(): DecodedRecord = {
      digits(bytes, pos, pos + 5) match {
        case Some(recLen) if recLen >= 24 && pos + recLen <= bytes.length &&
            terminatedAt(bytes, pos, pos + recLen - 1) =>
          val rec = decodeRecord(bytes, pos, recLen)
          pos += recLen
          skipTerms()
          rec
        case _ =>
          val r = DecodedRecord(Vector.empty, Vector(stringTypeViolation(Seq("leader"),
            utf8(bytes, pos, math.min(pos + 5, bytes.length)))))
          pos = bytes.length // cannot frame further records
          r
      }
    }
  }

  /** Whether the first RECORD_TERM at or after `from` is at `end`. */
  private def terminatedAt(bytes: Array[Byte], from: Int, end: Int): Boolean = {
    var i = from
    while (i < end && bytes(i) != RecordTerm) i += 1
    i == end && bytes(end) == RecordTerm
  }

  /** Decode one record at [off, off+len). */
  def decodeRecord(bytes: Array[Byte], off: Int, len: Int): DecodedRecord = {
    val spans = Vector.newBuilder[Span]
    val viols = Vector.newBuilder[Violation]
    var nextOffset = 0
    def add(kind: String, text: String): Unit = {
      spans += Span(kind, text, null, nextOffset); nextOffset += 1
    }
    val leader = utf8(bytes, off, off + 24)
    add("LDR", leader)
    val base = digits(bytes, off + 12, off + 17).getOrElse(-1)
    if (base < 25 || base > len) {
      viols += stringTypeViolation(Seq("leader"), leader)
      return DecodedRecord(spans.result(), viols.result())
    }
    // directory: 12-byte entries until FIELD_TERM (at off+base-1)
    var d = off + 24
    val dirEnd = off + base - 1
    while (d + 12 <= dirEnd && bytes(d) != FieldTerm) {
      val tag = utf8(bytes, d, d + 3)
      (digits(bytes, d + 3, d + 7), digits(bytes, d + 7, d + 12)) match {
        // field length includes the trailing terminator
        case (Some(fLen), Some(fStart)) if fLen >= 1 && base + fStart + fLen <= len &&
            bytes(off + base + fStart + fLen - 1) == FieldTerm =>
          val fOff = off + base + fStart
          add(tag, decodeFieldText(tag, bytes, fOff, fOff + fLen - 1))
        case _ =>
          viols += stringTypeViolation(Seq("fields", tag), tag)
      }
      d += 12
    }
    // the directory ends exactly at base-1, in whole entries
    if (d != dirEnd || bytes(dirEnd) != FieldTerm)
      viols += stringTypeViolation(Seq("leader"), leader)
    DecodedRecord(spans.result(), viols.result())
  }

  /** Field bytes [from, until) (terminator excluded) -> span text. */
  private def decodeFieldText(tag: String, bytes: Array[Byte], from: Int,
      until: Int): String = {
    if (tag.startsWith("00")) return utf8(bytes, from, until) // control field
    val sb = new StringBuilder
    // indicators: first two bytes (pymarc Field(data[0:2]))
    sb.append(if (from < until) utf8(bytes, from, from + 1) else " ")
    sb.append(if (from + 1 < until) utf8(bytes, from + 1, from + 2) else " ")
    var i = from + 2
    while (i < until) {
      if (bytes(i) == SubDelim && i + 1 < until) {
        val code = utf8(bytes, i + 1, i + 2)
        var j = i + 2
        while (j < until && bytes(j) != SubDelim) j += 1
        sb.append('$').append(code).append(utf8(bytes, i + 2, j).replace("$", "$$"))
        i = j
      } else i += 1
    }
    sb.toString
  }

  /** Encode spans to one ISO 2709 record. Media spans are skipped (they have
    * no MARC-binary representation); leader record-length [0,5) and base
    * address [12,17) are recomputed, as pymarc's as_marc21 does — the other
    * 19 leader positions are written verbatim.
    */
  def encodeRecord(spans: Seq[Span]): Array[Byte] = {
    val leaderText = spans.headOption.filter(_.kind == "LDR").map(_.text).getOrElse("")
    val fields = spans.filter(s => s.kind != "LDR" && s.kind != "media")
    val dir = new mutable.ArrayBuffer[Byte]()
    val data = new mutable.ArrayBuffer[Byte]()
    fields.foreach { f =>
      val start = data.length
      data ++= encodeFieldBytes(f)
      data += FieldTerm
      val fLen = data.length - start
      dir ++= f"${f.kind.take(3)}%-3s$fLen%04d$start%05d".getBytes(StandardCharsets.UTF_8)
    }
    dir += FieldTerm
    val base = 24 + dir.length
    val total = base + data.length + 1
    val ldr = new Array[Char](24)
    (0 until 24).foreach(i => ldr(i) = if (i < leaderText.length) leaderText.charAt(i) else ' ')
    f"$total%05d".getChars(0, 5, ldr, 0)
    f"$base%05d".getChars(0, 5, ldr, 12)
    val out = new mutable.ArrayBuffer[Byte](total)
    out ++= new String(ldr).getBytes(StandardCharsets.UTF_8)
    out ++= dir
    out ++= data
    out += RecordTerm
    out.toArray
  }

  /** Span text -> field bytes (terminator excluded). The span encoding's
    * "$code value" markers become SUB_DELIM bytes; "$$" un-escapes to a
    * literal '$' inside a value.
    */
  private def encodeFieldBytes(f: Span): Array[Byte] = {
    val text = if (f.text == null) "" else f.text
    if (f.kind.startsWith("00")) return text.getBytes(StandardCharsets.UTF_8)
    val padded = if (text.length >= 2) text else text.padTo(2, ' ')
    val sb = new StringBuilder
    sb.append(padded.substring(0, 2))
    var i = 2
    val n = padded.length
    while (i < n) {
      if (padded.charAt(i) == '$') {
        if (i + 1 < n && padded.charAt(i + 1) == '$') { sb.append('$'); i += 2 }
        else { sb.append(SubDelim.toChar); i += 1 }
      } else { sb.append(padded.charAt(i)); i += 1 }
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Encode many docs into one .mrc buffer. */
  def encodeStream(docs: Seq[Seq[Span]]): Array[Byte] =
    docs.flatMap(encodeRecord(_)).toArray
}
