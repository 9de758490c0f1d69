package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch: the k smallest DISTINCT
  * hashes of the values seen, kept in SIGNED order — the same order a SQL
  * engine's BIGINT ORDER BY uses, so an oracle can recompute the k-th kept
  * hash exactly (unlike HLL++, whose registers are opaque).
  *
  * Hash = splitmix64-finalized FNV-1a ([[graft.expr.Mix64]]): raw FNV-1a is
  * measurably non-uniform in its order statistics on structured keys
  * (sequential "value-i" strings put the KMV estimate 30-60% off at k=64;
  * one finalizer pass brings every tested (n, k) inside the ~1/sqrt(k)
  * band), and KMV's estimator consumes exactly those extremes. The
  * finalizer is plain adds/xors/shifts/multiplies mod 2^64, so a SQL oracle
  * still reproduces the hash bit-for-bit.
  *
  * Why this exists next to `approx_count_distinct`: the north-star resume
  * contract needs distinct counts for a corpus processed across MULTIPLE
  * runs — each batch persists its serialized sketch in the ledger, and
  * resume merges the buffers. KMV merge (set union, keep k smallest) is
  * associative, commutative, and IDEMPOTENT, so re-merging a batch's sketch
  * — e.g. the same buffer stored on every per-file ledger row of a batch —
  * changes nothing, and merged-across-batches equals single-pass exactly
  * (fully deterministic: no RNG, hash-only).
  *
  * Estimate: exact `size` while the buffer holds fewer than k hashes;
  * otherwise (k-1)/U(k) with U(k) = (kth + 2^63) / 2^64, the k-th order
  * statistic of uniforms on (0,1). Standard error ~ 1/sqrt(k-2).
  */
final class KmvBuf(var k: Int) {
  // ascending SIGNED order; last() is the current k-th (worst) kept hash
  val set = new java.util.TreeSet[java.lang.Long]()

  def offer(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (h < set.last()) {
      if (set.add(h)) { set.pollLast(); () }
    }
  }

  def merge(o: KmvBuf): Unit = {
    require(k == 0 || o.k == 0 || k == o.k,
      s"KMV merge of incompatible sketches: k=$k vs k=${o.k}")
    if (k == 0) k = o.k
    val it = o.set.iterator()
    while (it.hasNext) offer(it.next())
  }

  /** Exact while size < k, else the (k-1)/U(k) order-statistic estimate. */
  def estimate: Double =
    if (set.size < k || set.isEmpty) set.size.toDouble
    else {
      val u = (set.last().toDouble + 9.223372036854776e18) / 1.8446744073709552e19
      (k - 1) / u
    }

  def serialize: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeInt(set.size)
    val it = set.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush(); bos.toByteArray
  }
}

object KmvBuf {
  def deserialize(bytes: Array[Byte]): KmvBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new KmvBuf(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.set.add(in.readLong()); i += 1 }
    buf
  }
}

object Kmv {
  /** `sketch($"text", 1024)` -> binary serialized KMV sketch of the
    * column's distinct FNV-1a hashes. Null values are skipped.
    */
  def sketch(c: Column, k: Int): Column =
    Bridge.column(KmvAgg(Bridge.expression(c), k, 0, 0).toAggregateExpression())

  /** Aggregate MERGE of serialized sketches (cross-batch / cross-run union;
    * idempotent, so duplicated buffers are harmless).
    */
  def mergeSketch(c: Column): Column =
    Bridge.column(KmvMergeAgg(Bridge.expression(c), 0, 0).toAggregateExpression())

  /** Decode a serialized sketch:
    * struct(k, n_kept, kth_hash, estimate). kth_hash is the LARGEST kept
    * hash (the k-th smallest overall when the buffer is full) — the
    * oracle-recomputable witness of the sketch's entire content boundary.
    */
  def decode(c: Column): Column = Bridge.invoke(Kmv, "decodeRow", decodeType, Seq(c))

  /** [[decode]]'s kernel, one row per sketch. */
  def decodeRow(bytes: Array[Byte]): InternalRow = {
    val buf = KmvBuf.deserialize(bytes)
    val kth: Any = if (buf.set.isEmpty) null else buf.set.last().longValue()
    InternalRow(buf.k, buf.set.size.toLong, kth, buf.estimate)
  }

  val decodeType: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("kth_hash", LongType, nullable = true),
    StructField("estimate", DoubleType, nullable = false)))
}

/** TypedImperativeAggregate building a [[KmvBuf]] from a string column's
  * FNV-1a hashes; result is the serialized buffer (BinaryType) so the
  * sketch can be PERSISTED (ledger) and merged across runs.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[KmvBuf] {
  require(k >= 2, s"kmv: k must be >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kmv_sketch"

  // fail at analysis, not as a mid-job ClassCastException in update()
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch requires a string child (got ${child.dataType.catalogString}; " +
        "cast ids explicitly so the hash domain is deliberate)")

  override def createAggregationBuffer(): KmvBuf = new KmvBuf(k)

  override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
    val v = child.eval(input)
    if (v != null) buf.offer(
      graft.expr.Mix64.mix(graft.expr.Mix64.hashUtf8(v.asInstanceOf[UTF8String])))
    buf
  }

  override def merge(buf: KmvBuf, other: KmvBuf): KmvBuf = { buf.merge(other); buf }
  override def eval(buf: KmvBuf): Any = buf.serialize
  override def serialize(buf: KmvBuf): Array[Byte] = buf.serialize
  override def deserialize(bytes: Array[Byte]): KmvBuf = KmvBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)
}

/** Aggregate union of SERIALIZED sketches (binary column) — the resume path:
  * per-batch ledger sketches in, one corpus sketch out.
  */
case class KmvMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[KmvBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kmv_merge"

  // k adopted from the first merged sketch (k=0 sentinel = empty)
  override def createAggregationBuffer(): KmvBuf = new KmvBuf(0)

  override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
    val v = child.eval(input)
    if (v != null) buf.merge(KmvBuf.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: KmvBuf, other: KmvBuf): KmvBuf = { buf.merge(other); buf }
  override def eval(buf: KmvBuf): Any = buf.serialize
  override def serialize(buf: KmvBuf): Array[Byte] = buf.serialize
  override def deserialize(bytes: Array[Byte]): KmvBuf = KmvBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMergeAgg =
    copy(child = newChildren.head)
}
