package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.{Dictionary, OffHeapColumnVector,
  OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.graftbridge.SpanBatch
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarArray
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{FastCheck, MarcValidator, ValidatorKernel}
import graft.gen.{Fixtures, Synth}
import graft.rules.RuleSet
import graft.schema.{DocSchema, Span}

/** Soundness of the fast path: `clean(kinds, texts) == true` must imply the
  * full validator finds zero violations. (The converse may be false — the
  * fast path is allowed to punt to the slow path — but over the generated
  * corpus we also check it rarely punts on genuinely clean docs.)
  */
class FastCheckSpec extends AnyFunSuite {

  private val rules = RuleSet.default
  private val fc = new FastCheck(rules)

  private def kindsOf(spans: Seq[Span]): GenericArrayData =
    new GenericArrayData(spans.map(s => UTF8String.fromString(s.kind)).toArray[Any])
  private def textsOf(spans: Seq[Span]): GenericArrayData =
    new GenericArrayData(spans.map(s =>
      if (s.text == null) null else UTF8String.fromString(s.text)).toArray[Any])

  // Tungsten form of the same arrays, so UnsafeArrayData access is exercised
  private val unsafeProj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    .create(Array[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))

  private def cleanOf(spans: Seq[Span]): Boolean = {
    val generic = fc.clean(kindsOf(spans), textsOf(spans))
    val row = unsafeProj(InternalRow(kindsOf(spans), textsOf(spans)))
    val unsafe = fc.clean(row.getArray(0), row.getArray(1))
    assert(generic == unsafe,
      s"generic/unsafe fast paths disagree ($generic vs $unsafe) for $spans")
    generic
  }

  private def agreeOnClean(spans: Seq[Span]): Unit = {
    val fast = cleanOf(spans)
    val full = MarcValidator.validate(spans, rules)
    if (fast) assert(full.isEmpty,
      s"fast path claimed clean but full path found: ${full.map(_.rule_id)} for $spans")
  }

  test("fast path agrees with full path on fixtures and all synth classes") {
    agreeOnClean(Fixtures.validDoc.spans)
    agreeOnClean(Fixtures.invalidDoc.spans)
    assert(cleanOf(Fixtures.validDoc.spans)) // no punt
    assert(!cleanOf(Fixtures.invalidDoc.spans))
    (0L until 90L).foreach { id =>
      val spans = Synth.doc(id).spans
      agreeOnClean(spans)
      val expectClean = id % Synth.NumClasses == 0
      assert(cleanOf(spans) == expectClean, s"id=$id")
    }
  }

  test("fast path is sound on adversarial hand-built docs") {
    FastCheckSpec.adversarial.foreach(agreeOnClean)
  }

  test("property: fast path never claims clean when the full validator objects") {
    FastCheckSpec.generated.foreach(agreeOnClean)
  }

  test("vector layout: FastCheck and the kernel agree with the generic arrays") {
    // the layout the parquet reader fills: one array vector of structs whose
    // kind/text children hold every doc's spans back to back, read back as
    // ColumnarArray views at each doc's offset and length
    val kernel = new ValidatorKernel(rules)
    val docs: Seq[Seq[Span]] = null +: Seq.empty[Span] +:
      (Fixtures.validDoc.spans +: Fixtures.invalidDoc.spans +:
        ((0L until 90L).map(Synth.doc(_).spans) ++ FastCheckSpec.adversarial ++
          FastCheckSpec.generated))
    val spanType = StructType(Seq(StructField("kind", StringType), StructField("text", StringType)))
    val spansVec = new OnHeapColumnVector(docs.size, ArrayType(spanType))
    val kinds = spansVec.arrayData().getChild(0)
    val texts = spansVec.arrayData().getChild(1)
    def put(v: WritableColumnVector, at: Int, s: String): Unit =
      if (s == null) v.putNull(at) else v.putByteArray(at, s.getBytes("UTF-8"))
    var at = 0
    docs.zipWithIndex.foreach {
      case (null, row) => spansVec.putNull(row)
      case (spans, row) =>
        spansVec.arrayData().reserve(at + spans.size)
        kinds.reserve(at + spans.size); texts.reserve(at + spans.size)
        spans.foreach { sp => put(kinds, at, sp.kind); put(texts, at, sp.text); at += 1 }
        spansVec.putArray(row, at - spans.size, spans.size)
    }
    def violations(a: ArrayData): Any = CatalystTypeConverters.convertToScala(
      a, ArrayType(DocSchema.violationType))
    try docs.zipWithIndex.foreach {
      case (null, row) => assert(spansVec.isNullAt(row))
      case (spans, row) =>
        val (off, len) = (spansVec.getArrayOffset(row), spansVec.getArrayLength(row))
        val (k, t) = (new ColumnarArray(kinds, off, len), new ColumnarArray(texts, off, len))
        val fast = fc.clean(k, t)
        assert(fast == fc.clean(kindsOf(spans), textsOf(spans)), s"fast paths disagree for $spans")
        val vs = violations(kernel.validate(k, t))
        if (fast) assert(MarcValidator.validate(spans, rules).isEmpty,
          s"vector fast path claimed clean for $spans")
        assert(vs == violations(kernel.validate(kindsOf(spans), textsOf(spans))),
          s"kernel results differ for $spans")
    } finally spansVec.close()
  }

  test("character counts: multibyte control fields agree with the full path") {
    FastCheckSpec.charCounts.foreach { case (spans, want) =>
      val full = MarcValidator.validate(spans, rules).map(_.rule_id)
      assert(full == want, s"full path for $spans")
      assert(cleanOf(spans) == want.isEmpty, s"fast path for $spans")
    }
  }

  /** Test dictionary over strings; like parquet's, it decodes a copy. */
  private final class StringDictionary(entries: IndexedSeq[String]) extends Dictionary {
    private val bytes = entries.map(_.getBytes("UTF-8"))
    override def decodeToBinary(id: Int): Array[Byte] = bytes(id).clone()
    private def unsupported = throw new UnsupportedOperationException("StringDictionary")
    override def decodeToInt(id: Int): Int = unsupported
    override def decodeToLong(id: Int): Long = unsupported
    override def decodeToFloat(id: Int): Float = unsupported
    override def decodeToDouble(id: Int): Double = unsupported
  }

  /** One string vector of `values` (null stays null), dictionary-encoded
    * over the sorted distinct values (reversed when `reverse`) or plain,
    * on or off the heap.
    */
  private def stringVector(values: Seq[String], dict: Boolean, reverse: Boolean,
      offHeap: Boolean): WritableColumnVector = {
    val cap = math.max(values.size, 1)
    val v = if (offHeap) new OffHeapColumnVector(cap, StringType)
      else new OnHeapColumnVector(cap, StringType)
    if (dict) {
      val sorted = values.filter(_ != null).distinct.sorted
      val entries = (if (reverse) sorted.reverse else sorted).toIndexedSeq
      v.setDictionary(new StringDictionary(entries))
      val ids = v.reserveDictionaryIds(cap)
      values.zipWithIndex.foreach { case (x, j) =>
        if (x == null) v.putNull(j) else ids.putInt(j, entries.indexOf(x))
      }
    } else values.zipWithIndex.foreach { case (x, j) =>
      if (x == null) v.putNull(j) else v.putByteArray(j, x.getBytes("UTF-8"))
    }
    v
  }

  /** `docs` as one batch of kind and text child vectors (a null span has a
    * null kind and text), read through `view` doc by doc: each doc's
    * `clean` over the batch view next to its `clean` over the arrays.
    */
  private def batchClean(view: SpanBatch, docs: Seq[Seq[Span]], dictKinds: Boolean,
      dictTexts: Boolean, reverse: Boolean = false,
      offHeap: Boolean = false): Seq[(Boolean, Boolean)] = {
    val spans = docs.flatten
    def vector(f: Span => String, dict: Boolean) =
      stringVector(spans.map(s => if (s == null) null else f(s)), dict, reverse, offHeap)
    val kinds = vector(_.kind, dictKinds)
    val texts = vector(_.text, dictTexts)
    assert(kinds.hasDictionary == dictKinds && texts.hasDictionary == dictTexts)
    try {
      view.reset(kinds, texts)
      val offsets = docs.scanLeft(0)(_ + _.size)
      docs.zip(offsets).map { case (d, off) =>
        def arr(f: Span => String) = new GenericArrayData(d.map(s =>
          if (s == null || f(s) == null) null else UTF8String.fromString(f(s))).toArray[Any])
        (fc.clean(view.doc(off, d.size)), fc.clean(arr(_.kind), arr(_.text)))
      }
    } finally { kinds.close(); texts.close() }
  }

  test("batch view: clean equals the ArrayData clean, dictionary and plain") {
    val docs = Seq.empty[Span] +: (Fixtures.validDoc.spans +: Fixtures.invalidDoc.spans +:
      ((0L until 90L).map(Synth.doc(_).spans) ++ FastCheckSpec.adversarial ++
        FastCheckSpec.generated))
    // an off-heap plain text vector is read through getUTF8String, an
    // on-heap one from its byte array
    for (dictKinds <- Seq(true, false); dictTexts <- Seq(true, false);
         offHeap <- Seq(false, true)) {
      val got = batchClean(new SpanBatch(fc), docs, dictKinds, dictTexts, offHeap = offHeap)
      docs.zip(got).foreach { case (d, (view, arrays)) =>
        assert(view == arrays, s"kinds dict $dictKinds, texts dict $dictTexts, " +
          s"off heap $offHeap: $d")
      }
      assert(got.count(_._1) > 10, "too few clean docs to compare")
    }
  }

  test("batch view: one text entry under two tags, misplaced LDR and media, nulls") {
    import FastCheckSpec.{base, ldr}
    val ctl = base(1)
    val docs = Seq(
      Seq(ldr, ctl, Span("245", "00$aX", null, 2)) -> true,
      // the same text as a 100, whose second indicator must be blank
      Seq(ldr, ctl, Span("245", "10$aY", null, 2), Span("100", "00$aX", null, 3)) -> false,
      Seq(ldr, ctl, Span("245", "00$aX", null, 2)) -> true,
      Seq(ldr, ctl, Span("245", "00$aX", null, 2), ldr.copy(offset = 3)) -> false,
      Seq(Span("media", "", "asset-1", 0), ldr, ctl, base(2)) -> false,
      Seq(ldr, ctl, base(2), Span("media", "", "asset-1", 3)) -> true,
      Seq(ldr, ctl, base(2), null) -> false,
      Seq(ldr, ctl, base(2), Span(null, "00$aX", null, 3)) -> false,
      Seq(ldr, ctl, Span("245", null, null, 2)) -> false,
      Seq(ldr, Span("008", null, null, 1), base(2)) -> false,
      Seq(ldr.copy(text = null), ctl, base(2)) -> false,
      Seq(ldr, ctl, base(2), Span("910", null, null, 3)) -> true)
    for (dictKinds <- Seq(true, false); dictTexts <- Seq(true, false);
         offHeap <- Seq(false, true)) {
      val got = batchClean(new SpanBatch(fc), docs.map(_._1), dictKinds, dictTexts,
        offHeap = offHeap)
      docs.zip(got).foreach { case ((d, want), (view, arrays)) =>
        assert(arrays == want, s"ArrayData clean for $d")
        if (want) assert(MarcValidator.validate(d, rules).isEmpty, s"full path for $d")
        assert(view == want, s"kinds dict $dictKinds, texts dict $dictTexts, " +
          s"off heap $offHeap: $d")
      }
    }
  }

  test("batch view: a second batch with other dictionaries reads no stale memo entry") {
    // the second batch numbers the same strings in reverse, so an entry kept
    // from the first batch gives a span another kind's code
    val docs = FastCheckSpec.adversarial ++ (0L until 30L).map(Synth.doc(_).spans)
    val view = new SpanBatch(fc)
    Seq(false, true, false).foreach { reverse =>
      val got = batchClean(view, docs, dictKinds = true, dictTexts = true, reverse)
      docs.zip(got).foreach { case (d, (viewClean, arrays)) =>
        assert(viewClean == arrays, s"reverse $reverse: $d")
      }
      assert(got.exists(_._1) && got.exists(!_._1))
    }
  }
}

object FastCheckSpec {
  private[graft] val ldr = Span("LDR", "00454cam a22001575i 4500", null, 0)
  private val f008 = "190306s2017    ht a   j      000 1 hat d" // 40 chars
  private[graft] val base = Seq(ldr, Span("008", f008, null, 1), Span("245", "00$aT", null, 2))

  /** `base` with its 008 replaced by, or (for another tag) followed by, a
    * control field `tag` holding `text`.
    */
  private def withField(tag: String, text: String): Seq[Span] =
    if (tag == "008") base.updated(1, Span(tag, text, null, 1))
    else base :+ Span(tag, text, null, 3)

  /** Control fields whose character and byte counts differ, with the
    * full path's rule ids.
    */
  lazy val charCounts: Seq[(Seq[Span], Seq[String])] = Seq(
    withField("008", f008.dropRight(1) + "é") -> Nil, // 40 chars in 41 bytes
    withField("008", f008.dropRight(2) + "é") -> // 39 chars in 40 bytes
      Seq("control_field_length_invalid"),
    withField("008", f008.dropRight(1) + "\uD834\uDD1E") -> Nil, // a 4-byte char: 40 chars
    withField("007", "é|||||") -> Seq("control_field_length_invalid")) // multibyte first char

  /** Hand-built docs at the edges of every FastCheck branch. */
  val adversarial: Seq[Seq[Span]] = Seq(
    base, // clean
    base :+ Span("007", "", null, 3), // empty 007 -> violation
    base :+ Span("007", "x||", null, 3), // unknown material
    base :+ Span("007", "c|||||", null, 3), // any-of ok (6)
    base :+ Span("007", "學||", null, 3), // multi-byte material char
    base :+ Span("000", "x", null, 3), // literal_error
    base :+ Span("01a", "  $aV", null, 3), // bad tag
    base :+ Span("1234", "  $aV", null, 3), // unanchored ok, unknown
    base :+ Span("x100", "  $aV", null, 3), // not 1xx, pattern ok
    base :+ Span("100", "1 $aA", null, 3), // single 1xx fine
    Seq(ldr, base(1), base(2), Span("100", "1 $aA", null, 3), Span("110", "1 $aB", null, 4)),
    base :+ Span("020", "  $z1$z2", null, 3), // repeatable repeat ok
    base :+ Span("020", "  $a1$a2", null, 3), // non-rep repeat
    base :+ Span("020", "  $tbad", null, 3), // not allowed
    base :+ Span("020", "  $ax$$y", null, 3), // escaped $ in value
    base :+ Span("020", "  ", null, 3), // no subfields
    base :+ Span("020", "", null, 3), // degenerate text
    base :+ Span("020", null, null, 3), // null text
    base :+ Span("841", "zz$q?$q?", null, 3), // holdings skip
    base :+ Span("910", "99$q!!", null, 3), // unknown tag skip
    base :+ Span("media", "", "asset-1", 3),
    base :+ Span("245", "00$aT", null, 3), // duplicate non-rep 245
    Seq(ldr, base(2)), // missing 008
    Seq(Span("LDR", "bad", null, 0), base(1), base(2)), // short leader
    Seq(base(1), base(2)), // no leader at 0
    base :+ Span("006", "m|||||學", null, 3), // 6 codepoints, 8 bytes: punt/agree
    base :+ Span("600", "10$aX,$aX,", null, 3), // non-rep subfield repeat
    base :+ Span("245", "學0$aT", null, 3), // multibyte indicator
    base :+ Span("245", "0學$aT", null, 3)) ++ charCounts.map(_._1)

  /** 2000 property-generated docs from fixed seeds (the scalatestplus
    * bridge is not on the offline classpath): random tags including
    * non-3-digit and empty kinds, random, null and multibyte texts, and
    * empty span arrays.
    */
  lazy val generated: Seq[Seq[Span]] = {
    val tagGen = Gen.oneOf(Gen.choose(0, 999).map(n => f"$n%03d"),
      Gen.oneOf("LDR", "media", "910", "x100", "01a", "1234", ""))
    val textGen = Gen.oneOf(
      Gen.alphaNumStr.map(s => "  $a" + s.take(12)),
      Gen.oneOf("", " ", "00$aT", "11$zfoo", "1 $aFoo$eauthor", "  $a1$a2",
        "p|||||", "190306s2017    ht a   j      000 1 hat d", "x" * 40,
        "m|||學|", "  $ax$$y$", "00454cam a22001575i 4500"),
      Gen.const(null: String))
    val spanGen = for { t <- tagGen; x <- textGen } yield Span(t, x, null, 0)
    val docGen = for {
      n <- Gen.choose(0, 8)
      body <- Gen.listOfN(n, spanGen)
      withLdr <- Gen.oneOf(true, true, false)
    } yield {
      val all = if (withLdr) Span("LDR", "00454cam a22001575i 4500", null, 0) +: body else body
      all.zipWithIndex.map { case (s, i) => s.copy(offset = i) }
    }
    (0 until 2000).flatMap(i => docGen(Gen.Parameters.default, Seed(42L + i)))
  }
}
