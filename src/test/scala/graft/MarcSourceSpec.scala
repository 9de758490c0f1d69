package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.MarcValidator
import graft.gen.{Fixtures, Synth}
import graft.io.{MarcCodec, MarcSource}
import graft.schema.Span

/** MARC binary (.mrc) codec + source: the reference's pymarc entry path
  * (/root/reference/README.md:24-28) re-expressed as a Spark scan.
  */
class MarcSourceSpec extends AnyFunSuite with SparkSessionTestWrapper {

  /** Round-trip comparison key: (kind, text) pairs with the leader's
    * encoder-recomputed digit ranges normalized (positions 0-4 record length
    * and 12-16 base address, as pymarc's as_marc21 recomputes them). Media
    * spans have no MARC-binary form, so offsets shift — kind/text sequence
    * equality is the invariant.
    */
  private def normLeader(spans: Seq[Span]): Seq[(String, String)] = spans.map { s =>
    if (s.kind == "LDR" && s.text != null && s.text.length == 24)
      (s.kind, "#####" + s.text.substring(5, 12) + "#####" + s.text.substring(17))
    else (s.kind, s.text)
  }

  private def marcSpans(spans: Seq[Span]): Seq[Span] =
    spans.filter(_.kind != "media")

  test("fixtures round-trip through MARC binary, modulo recomputed leader digits") {
    Seq(Fixtures.validDoc, Fixtures.invalidDoc).foreach { doc =>
      val bytes = MarcCodec.encodeRecord(doc.spans)
      val decoded = MarcCodec.decodeStream(bytes).toSeq
      assert(decoded.length == 1)
      assert(decoded.head.decodeViolations.isEmpty)
      assert(normLeader(decoded.head.spans) == normLeader(marcSpans(doc.spans)))
    }
  }

  test("decoded invalid fixture yields the same 9-violation oracle") {
    val bytes = MarcCodec.encodeRecord(Fixtures.invalidDoc.spans)
    val decoded = MarcCodec.decodeStream(bytes).next()
    val vs = MarcValidator.validate(decoded.spans, graft.rules.RuleSet.default)
    val got = vs.map(v => (v.rule_id, v.loc.mkString("/"), v.msg))
    assert(got == Fixtures.expectedInvalid)
  }

  test("multi-record stream framing and synthetic-class round-trip") {
    val docs = (0L until 27L).map(Synth.doc)
    val bytes = MarcCodec.encodeStream(docs.map(_.spans))
    val decoded = MarcCodec.decodeStream(bytes).toSeq
    assert(decoded.length == 27)
    decoded.zip(docs).foreach { case (d, orig) =>
      assert(d.decodeViolations.isEmpty)
      assert(normLeader(d.spans) == normLeader(marcSpans(orig.spans)))
      // violations must survive the round trip class-for-class
      val vs = MarcValidator.validate(d.spans, graft.rules.RuleSet.default)
      val cls = (orig.doc_id.drop(4).toLong % Synth.NumClasses).toInt
      assert(vs.length == Synth.violationsPerClass(cls), s"doc ${orig.doc_id}")
    }
  }

  test("malformed bytes emit string_type decode violations, never throw") {
    val junk = "ABCDE-not-marc".getBytes("UTF-8")
    val decoded = MarcCodec.decodeStream(junk).toSeq
    assert(decoded.length == 1)
    assert(decoded.head.decodeViolations.exists(_.rule_id == "string_type"))
    // bad base address inside a correctly-framed record
    val rec = MarcCodec.encodeRecord(Fixtures.validDoc.spans)
    rec(12) = 'x'.toByte
    val d2 = MarcCodec.decodeStream(rec).toSeq
    assert(d2.head.decodeViolations.exists(_.rule_id == "string_type"))
  }

  /** Encoded Synth records (1-4 per stream), each stream broken once: cut
    * inside a record, a record's leader length or base address rewritten
    * to other digits (near the true value or anywhere), or one field or
    * record terminator removed.
    */
  private val malformed: Gen[Array[Byte]] = for {
    ids <- Gen.nonEmptyListOf(Gen.choose(0L, 10000L)).map(_.take(4))
    recs = ids.map(i => MarcCodec.encodeRecord(Synth.doc(i).spans))
    k <- Gen.choose(0, recs.length - 1)
    broken <- breakRecord(recs.toArray.flatten, recs.take(k).map(_.length).sum, recs(k))
  } yield broken

  /** `bytes` with the record `rec`, which starts at `at`, broken once. */
  private def breakRecord(bytes: Array[Byte], at: Int, rec: Array[Byte]): Gen[Array[Byte]] = {
    def rewrite(field: Int, truth: Int): Gen[Array[Byte]] =
      // any other 5 digits, or within 3 of the truth (mod 10^5)
      Gen.oneOf(Gen.choose(1, 99999), Gen.oneOf(1, 2, 3, 99997, 99998, 99999)).map { d =>
        val out = bytes.clone()
        f"${(truth + d) % 100000}%05d".getBytes("US-ASCII").copyToArray(out, at + field)
        out
      }
    def without(i: Int): Array[Byte] = bytes.patch(at + i, Nil, 1)
    Gen.oneOf(
      Gen.choose(1, rec.length - 1).map(cut => bytes.take(at + cut)),
      rewrite(0, rec.length),
      rewrite(12, new String(rec, 12, 5, "US-ASCII").toInt),
      Gen.oneOf(rec.indices.filter(rec(_) == MarcCodec.FieldTerm)).map(without),
      Gen.const(without(rec.length - 1)))
  }

  test("property: malformed ISO 2709 yields decode violations, never an exception") {
    (0 until 500).foreach { i =>
      val bytes = malformed(Gen.Parameters.default, Seed(7L + i)).get
      val decoded = MarcCodec.decodeStream(bytes).toSeq
      assert(decoded.exists(_.decodeViolations.exists(_.rule_id == "string_type")),
        s"seed ${7L + i}: ${decoded.map(_.spans.map(_.kind))}")
    }
  }

  test("MarcSource reads a malformed .mrc file into violation rows") {
    val dir = Files.createTempDirectory("graft-marc-bad").toFile
    val good = MarcCodec.encodeStream((0L until 2L).map(Synth.doc(_).spans))
    val cut = MarcCodec.encodeRecord(Synth.doc(2L).spans).take(3)
    Files.write(new java.io.File(dir, "bad.mrc").toPath, good ++ cut)
    val rows = MarcSource.read(spark, dir.getAbsolutePath).collect()
    assert(rows.map(_.decode_violations.size).sorted.toSeq == Seq(0, 0, 1))
    val bad = rows.find(_.decode_violations.nonEmpty).get
    assert(bad.doc_id.endsWith("bad.mrc#2") && bad.spans.isEmpty)
    assert(bad.decode_violations.head.rule_id == "string_type")
  }

  test("MarcSource reads .mrc files distributed and ids records by 001") {
    val dir = Files.createTempDirectory("graft-marc").toFile
    val docs = (0L until 9L).map(Synth.doc)
    Files.write(new java.io.File(dir, "a.mrc").toPath,
      MarcCodec.encodeStream(docs.take(5).map(_.spans)))
    Files.write(new java.io.File(dir, "b.mrc").toPath,
      MarcCodec.encodeStream(docs.drop(5).map(_.spans)))
    val ds = MarcSource.read(spark, dir.getAbsolutePath)
    val rows = ds.collect().sortBy(_.doc_id)
    assert(rows.length == 9)
    // doc_id = the 001 control number (Synth writes "on%012d")
    assert(rows.map(_.doc_id).toSeq == (0L until 9L).map(i => f"on$i%012d").sorted)
    // validate the decoded docs end-to-end through the Spark path
    import spark.implicits._
    val df = ds.select($"doc_id", $"spans")
    val verdicts = graft.checks.RowValidator.verdicts(df)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    (0L until 9L).foreach { i =>
      val cls = (i % Synth.NumClasses).toInt
      assert(verdicts(f"on$i%012d") == (Synth.violationsPerClass(cls) == 0))
    }
  }

  test("MarcSource reads only the .mrc files of a directory") {
    val dir = Files.createTempDirectory("graft-marc-mixed").toFile
    Files.write(new java.io.File(dir, "a.mrc").toPath,
      MarcCodec.encodeStream((0L until 2L).map(Synth.doc(_).spans)))
    // valid ISO 2709 bytes under another extension: read, they would decode
    Files.write(new java.io.File(dir, "b.dat").toPath,
      MarcCodec.encodeStream((2L until 5L).map(Synth.doc(_).spans)))
    val ids = MarcSource.read(spark, dir.getAbsolutePath).collect().map(_.doc_id).sorted
    assert(ids.toSeq == (0L until 2L).map(i => f"on$i%012d"))
  }
}
