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
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.Decimal
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{ValidateSpans, ValidatorKernel}

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

/** `validate_marc` over the column vectors of a parquet scan. For each doc
  * of a batch, the kernel gets `ColumnarArray` views of the kind and text
  * child vectors at the doc's span offset and length: FastCheck proves a
  * clean doc without copying a span, and only the docs it cannot prove take
  * the full path. Rows come out as `UnsafeRow`s with the replaced
  * `Project`'s output: the kernel's result in place of the call, the other
  * columns read from their vectors.
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
      batches.flatMap { batch =>
        val spansVec = batch.column(spansIdx).asInstanceOf[WritableColumnVector]
        val structs = spansVec.arrayData()
        val kinds = new DecodedStrings(structs.getChild(kindOrd))
        val texts = new DecodedStrings(structs.getChild(textOrd))
        numOutputRows += batch.numRows()
        Iterator.tabulate(batch.numRows()) { i =>
          val result =
            if (spansVec.isNullAt(i)) null
            else {
              val off = spansVec.getArrayOffset(i)
              val len = spansVec.getArrayLength(i)
              val r = kernel.validate(new ColumnarArray(kinds, off, len),
                new ColumnarArray(texts, off, len))
              if (r eq kernel.noViolations) fastClean += 1
              else { fullPath += 1; violations += r.numElements() }
              r
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

/** One batch's string vector with each dictionary entry decoded once. The
  * parquet reader keeps a dictionary-encoded column as ids, and each
  * `getUTF8String` of such a vector copies the entry's bytes out again; here
  * the first read of an id decodes it and later reads share the string.
  * Only the reads the kernel makes are supported.
  */
private final class DecodedStrings(vec: WritableColumnVector)
    extends ColumnVector(vec.dataType) {
  private val ids = if (vec.hasDictionary) vec.getDictionaryIds else null
  private var decoded = new Array[UTF8String](64)

  override def getUTF8String(i: Int): UTF8String =
    if (ids == null || vec.isNullAt(i)) vec.getUTF8String(i)
    else {
      val id = ids.getInt(i)
      if (id >= decoded.length)
        decoded = java.util.Arrays.copyOf(decoded, math.max(id + 1, decoded.length * 2))
      if (decoded(id) == null) decoded(id) = vec.getUTF8String(i)
      decoded(id)
    }
  override def isNullAt(i: Int): Boolean = vec.isNullAt(i)
  override def hasNull: Boolean = vec.hasNull
  override def numNulls: Int = vec.numNulls
  override def close(): Unit = ()

  private def unsupported = throw new UnsupportedOperationException("DecodedStrings")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getLong(i: Int): Long = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int): ColumnarArray = unsupported
  override def getMap(i: Int): ColumnarMap = unsupported
  override def getDecimal(i: Int, p: Int, s: Int): Decimal = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
  override def getChild(i: Int): ColumnVector = unsupported
}
