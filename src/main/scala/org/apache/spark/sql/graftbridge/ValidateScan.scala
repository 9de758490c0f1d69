package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, AttributeSet,
  BindReferences, BoundReference, GenericInternalRow, GetArrayStructFields, JoinedRow,
  Literal, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{ColumnarToRowTransition, FileSourceScanExec,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.vectorized.ColumnarArray
import org.apache.spark.unsafe.Platform

import graft.expr.{FastCheck, ValidateSpans, ValidatorKernel}

/** Plans `validate_marc(spans.kind, spans.text, null, null)` straight over a
  * columnar parquet scan as one [[ValidateScanExec]], so the kernel reads
  * each doc's span fields as views into the scan's column vectors instead
  * of as rows assembled by `ColumnarToRow` and copied out by
  * `GetArrayStructFields`.
  *
  * Matches a deterministic `Project` directly over a parquet relation whose
  * expressions call one `validate_marc` with no override column (as
  * `validate_marc(...) AS violations` next to pass-through attributes, or
  * inlined, as in `size(validate_marc(...)) AS n`), and only when the
  * planned scan reads columnar batches of writable vectors. Every other
  * shape (an override column, `input_file_name()` lineage, a filter, a row
  * source, a stream, the vectorized reader turned off) returns Nil and keeps
  * the whole-stage-codegen `Project`.
  */
object ValidateScanStrategy extends SparkStrategy {

  /** Adds the strategy to `session` unless it is already there. */
  def install(session: SparkSession): Unit = session match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      val ex = s.experimental
      ex.synchronized {
        if (!ex.extraStrategies.contains(this)) ex.extraStrategies :+= this
      }
    case _ =>
  }

  /** The one override-free `validate_marc(spans.kind, spans.text, null,
    * null)` call of a deterministic `projectList`, with its `spans`
    * attribute. None when the list has no call, calls that differ, or an
    * override column.
    */
  private[graftbridge] def validateOf(projectList: Seq[NamedExpression])
      : Option[(ValidateSpans, Attribute)] = {
    val calls = projectList.flatMap(_.collect { case v: ValidateSpans => v })
    calls.headOption.collect {
      case v @ ValidateSpans(GetArrayStructFields(s: Attribute, _, _, _, _),
          GetArrayStructFields(t: Attribute, _, _, _, _), Literal(null, _), Literal(null, _),
          _, _) if s.exprId == t.exprId && projectList.forall(_.deterministic) &&
            calls.forall(_.semanticEquals(v)) => (v, s)
    }
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projectList, rel: LogicalRelation) if !rel.isStreaming =>
      validateOf(projectList).toSeq.flatMap { case (_, spans) =>
        val needed = AttributeSet(projectList.flatMap(_.references))
        FileSourceStrategy(Project(rel.output.filter(needed.contains), rel)) match {
          case Seq(scan: FileSourceScanExec)
              if scan.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
                scan.supportsColumnar && writable(scan, spans) =>
            Seq(ValidateScanExec(projectList, scan))
          case _ => Nil
        }
      }
    case _ => Nil
  }

  /** The node reads span offsets from the vector API of writable vectors,
    * the ones the parquet reader fills for data columns.
    */
  private def writable(scan: FileSourceScanExec, spans: Attribute): Boolean = {
    val i = scan.output.indexWhere(_.exprId == spans.exprId)
    scan.vectorTypes.exists(ts => i >= 0 && i < ts.size &&
      classOf[WritableColumnVector].isAssignableFrom(Class.forName(ts(i))))
  }
}

/** `validate_marc` over the column vectors of a parquet scan. Per batch, a
  * task's [[SpanBatch]] views the kind and text child vectors, and for each
  * doc FastCheck reads the doc's spans through it: each kind dictionary
  * entry is coded once per batch, and a span's text is read only when its
  * tag's rules need it. This replaces a per-batch cache of decoded
  * strings: no span's kind is decoded or parsed, only each entry once, and
  * a text is read only for a rule. Only the docs FastCheck cannot prove
  * take the full path, over `ColumnarArray` views of the raw vectors at
  * the doc's span offset and length. Rows come out as `UnsafeRow`s with the
  * replaced `Project`'s output: the kernel's result in place of the call,
  * the other columns read from their vectors.
  *
  * A [[ColumnarToRowTransition]], so Spark inserts no `ColumnarToRow` over
  * the scan. Its metrics count the docs FastCheck proved clean, the docs
  * the full path validated, and the violations emitted (a doc with null
  * spans is in neither count: its violations are null).
  */
case class ValidateScanExec(projectList: Seq[NamedExpression], child: SparkPlan)
    extends ColumnarToRowTransition {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "fastClean" -> SQLMetrics.createMetric(sparkContext, "docs proved clean by FastCheck"),
    "fullPath" -> SQLMetrics.createMetric(sparkContext, "docs validated by the full path"),
    "violations" -> SQLMetrics.createMetric(sparkContext, "violations emitted"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (call, spans) = ValidateScanStrategy.validateOf(projectList).get
    val kernel = new ValidatorKernel(call.rules, call.contextRules)
    val GetArrayStructFields(_, _, kindOrd, _, _) = call.kinds
    val GetArrayStructFields(_, _, textOrd, _, _) = call.texts
    val in = child.output
    val spansIdx = in.indexWhere(_.exprId == spans.exprId)
    // the kernel's result sits in one slot after the scan's columns; the
    // rest of the projection binds to the scan's columns
    val slot = BoundReference(in.size, call.dataType, call.nullable)
    val exprs = BindReferences.bindReferences(
      projectList.map(_.transformDown { case _: ValidateSpans => slot }), AttributeSeq(in))
    val numOutputRows = longMetric("numOutputRows")
    val fastClean = longMetric("fastClean")
    val fullPath = longMetric("fullPath")
    val violations = longMetric("violations")
    child.executeColumnar().mapPartitionsInternal { batches =>
      val proj = UnsafeProjection.create(exprs)
      val violationsSlot = new GenericInternalRow(1)
      val joined = new JoinedRow(null, violationsSlot)
      val view = new SpanBatch(kernel.fastCheck)
      batches.flatMap { batch =>
        val spansVec = batch.column(spansIdx).asInstanceOf[WritableColumnVector]
        val structs = spansVec.arrayData()
        val kinds = structs.getChild(kindOrd)
        val texts = structs.getChild(textOrd)
        view.reset(kinds, texts)
        numOutputRows += batch.numRows()
        Iterator.tabulate(batch.numRows()) { i =>
          val result =
            if (spansVec.isNullAt(i)) null
            else {
              val off = spansVec.getArrayOffset(i)
              val len = spansVec.getArrayLength(i)
              if (kernel.fastCheck.clean(view.doc(off, len))) {
                fastClean += 1
                kernel.noViolations
              } else {
                val r = kernel.validateFull(new ColumnarArray(kinds, off, len),
                  new ColumnarArray(texts, off, len))
                fullPath += 1
                violations += r.numElements()
                r
              }
            }
          violationsSlot.update(0, result)
          proj(joined.withLeft(batch.getRow(i)))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ValidateScanExec =
    copy(child = newChild)
}

/** One task's view of a batch's span `kind` and `text` vectors as
  * [[FastCheck.Spans]], moved from doc to doc by [[doc]]. A
  * dictionary-encoded kind vector gets one code per dictionary id per
  * batch; a plain-encoded one is coded per span. A text is read only for a
  * span whose code [[FastCheck.needsText]]: a plain-encoded on-heap text in
  * place, from the vector's byte array with no `UTF8String` made (about 7%
  * of perfbench `validate_healthy`'s throughput on a 4-core host, where two
  * thirds of the batches are plain), any other through `getUTF8String`.
  * The kind memo grows to the largest id seen and is kept for the task;
  * [[reset]] voids its entries with a generation stamp instead of clearing
  * or reallocating it.
  */
final class SpanBatch(fc: FastCheck) extends FastCheck.Spans {
  private var kinds: WritableColumnVector = _
  private var texts: WritableColumnVector = _
  private var kindIds: WritableColumnVector = _ // null when plain-encoded
  // a plain-encoded on-heap text vector's byte array, read in place
  private var textBytes: Array[Byte] = _
  private var off = 0
  private var len = 0
  private var gen = 0
  // kind id -> code, valid where kindGen(id) == gen
  private var kindGen = new Array[Int](64)
  private var kindCodes = new Array[Int](64)

  /** Views the next batch's kind and text vectors. */
  def reset(kinds: WritableColumnVector, texts: WritableColumnVector): Unit = {
    this.kinds = kinds
    this.texts = texts
    kindIds = if (kinds.hasDictionary) kinds.getDictionaryIds else null
    textBytes = texts.arrayData() match {
      // an on-heap vector's byte buffer wraps its byte array, with no copy
      case bytes: OnHeapColumnVector if !texts.hasDictionary => bytes.getByteBuffer(0, 0).array()
      case _ => null
    }
    gen += 1
  }

  /** Views the doc whose spans sit at `off` until `off + len`. */
  def doc(off: Int, len: Int): this.type = {
    this.off = off
    this.len = len
    this
  }

  override def size: Int = len

  override def code(i: Int): Int = {
    val j = off + i
    if (kinds.isNullAt(j)) FastCheck.Reject
    else if (kindIds == null) fc.kindCode(kinds.getUTF8String(j))
    else {
      val id = kindIds.getInt(j)
      if (id >= kindGen.length) {
        kindGen = grow(kindGen, id)
        kindCodes = grow(kindCodes, id)
      }
      if (kindGen(id) != gen) {
        kindCodes(id) = fc.kindCode(kinds.getUTF8String(j))
        kindGen(id) = gen
      }
      kindCodes(id)
    }
  }

  override def textOk(i: Int, code: Int): Boolean = {
    val j = off + i
    if (texts.isNullAt(j)) fc.spanOk(code, null)
    else if (textBytes != null) fc.spanOk(code, textBytes,
      Platform.BYTE_ARRAY_OFFSET + texts.getArrayOffset(j), texts.getArrayLength(j))
    else fc.spanOk(code, texts.getUTF8String(j))
  }

  /** `a` grown to hold index `i`, at least doubled. */
  private def grow(a: Array[Int], i: Int): Array[Int] =
    java.util.Arrays.copyOf(a, math.max(i + 1, a.length * 2))
}
