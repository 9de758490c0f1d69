package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Element-wise running sum + count over an `array<float>` column. The
  * buffer is one double[] per group, so a k-means/IVF centroid update over
  * any corpus size shuffles only k × dims doubles after map-side combine —
  * the property that makes Lloyd iterations viable at 100 TB (the
  * alternative, posexplode + groupBy(cluster, dim), shuffles N × dims rows).
  */
final class VecBuf(var n: Long, var sums: Array[Double]) {
  def update(v: ArrayData): Unit = {
    if (v == null) return
    val len = v.numElements()
    if (sums == null) sums = new Array[Double](len)
    // dimension drift inside one column is a data bug; clamp defensively
    val m = math.min(len, sums.length)
    var i = 0
    while (i < m) { sums(i) += v.getFloat(i); i += 1 }
    n += 1
  }
  def merge(o: VecBuf): Unit = {
    if (o.sums == null) return
    if (sums == null) { sums = o.sums; n = o.n; return }
    val m = math.min(sums.length, o.sums.length)
    var i = 0
    while (i < m) { sums(i) += o.sums(i); i += 1 }
    n += o.n
  }
}

object VectorAvgAgg {
  val resultType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("avg", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** `vectorAvg($"embedding")` -> struct(n, avg: array<float>). */
  def vectorAvg(c: Column): Column =
    Bridge.column(VectorAvgAgg(Bridge.expression(c), 0, 0).toAggregateExpression())
}

/** TypedImperativeAggregate: mean vector per group (IVF/k-means centroid
  * update; no Catalyst builtin aggregates arrays element-wise).
  */
case class VectorAvgAgg(
    child: Expression,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[VecBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = VectorAvgAgg.resultType
  override def prettyName: String = "vector_avg"

  // fail at analysis: VecBuf reads floats, so a double array would be
  // summed as pairs of 4-byte halves
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_avg requires an array<float> child (got ${other.catalogString})")
  }

  override def createAggregationBuffer(): VecBuf = new VecBuf(0L, null)

  override def update(buf: VecBuf, input: InternalRow): VecBuf = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: VecBuf, other: VecBuf): VecBuf = { buf.merge(other); buf }

  override def eval(buf: VecBuf): Any = {
    if (buf.n == 0 || buf.sums == null) return InternalRow(0L, null)
    val avg = new Array[Any](buf.sums.length)
    var i = 0
    while (i < buf.sums.length) { avg(i) = (buf.sums(i) / buf.n).toFloat; i += 1 }
    InternalRow(buf.n, new GenericArrayData(avg))
  }

  override def serialize(buf: VecBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    if (buf.sums == null) out.writeInt(-1)
    else {
      out.writeInt(buf.sums.length)
      var i = 0
      while (i < buf.sums.length) { out.writeDouble(buf.sums(i)); i += 1 }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readLong()
    val len = in.readInt()
    if (len < 0) new VecBuf(n, null)
    else {
      val sums = new Array[Double](len)
      var i = 0
      while (i < len) { sums(i) = in.readDouble(); i += 1 }
      new VecBuf(n, sums)
    }
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorAvgAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorAvgAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorAvgAgg =
    copy(child = newChildren.head)
}
