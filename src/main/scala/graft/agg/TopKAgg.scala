package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.PriorityQueue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k buffer of (score, id) pairs ordered (score DESC, id ASC):
  * a max-heap-of-the-worst holding at most k elements, so the partial
  * aggregation state per group is O(k) regardless of input size. This is
  * what makes batch top-k search scale: each map task keeps only its local
  * top-k per query, and the shuffle carries k rows per (task, query) — a
  * window/row_number formulation would shuffle EVERY scored candidate to one
  * partition per query before discarding all but k.
  */
final class TopKBuf(val k: Int) {
  // head = current WORST kept element (lowest score, then highest id) so
  // one compare decides admission and evict-on-overflow is poll()
  val heap: PriorityQueue[TopKBuf.Entry] =
    new PriorityQueue[TopKBuf.Entry](math.max(k, 1), TopKBuf.worstFirst)

  def offer(score: Double, id: Long): Unit = {
    if (heap.size < k) { heap.add(new TopKBuf.Entry(score, id)); return }
    val worst = heap.peek()
    // admit iff strictly better than the current worst in the heap's own
    // order, so a NaN score ranks first whatever order it arrives in
    if (TopKBuf.compare(score, id, worst.score, worst.id) > 0) {
      heap.poll()
      heap.add(new TopKBuf.Entry(score, id))
    }
  }

  def merge(o: TopKBuf): Unit = {
    val it = o.heap.iterator()
    while (it.hasNext) { val e = it.next(); offer(e.score, e.id) }
  }

  /** Best-first (score DESC, id ASC). */
  def sorted: Array[TopKBuf.Entry] = {
    val arr = heap.toArray(new Array[TopKBuf.Entry](heap.size))
    java.util.Arrays.sort(arr, TopKBuf.worstFirst.reversed())
    arr
  }
}

object TopKBuf {
  final class Entry(val score: Double, val id: Long)

  /** Worst-first order (score ASC, then id DESC). Scores compare by
    * `Double.compare`, which ranks NaN above every other score, as Spark's
    * `ORDER BY score DESC` does.
    */
  private def compare(s1: Double, i1: Long, s2: Double, i2: Long): Int = {
    val c = java.lang.Double.compare(s1, s2)
    if (c != 0) c else java.lang.Long.compare(i2, i1)
  }

  private val worstFirst: java.util.Comparator[Entry] =
    (a: Entry, b: Entry) => compare(a.score, a.id, b.score, b.id)
}

object TopKAgg {
  val entryType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  def resultType: DataType = ArrayType(entryType, containsNull = false)

  /** `topK($"cosine", $"id", 10)` -> array<struct<id, score>> sorted
    * (score DESC, id ASC), at most k elements. Null score or id skips the
    * row.
    */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKAgg(Bridge.expression(score), Bridge.expression(id), k, 0, 0)
      .toAggregateExpression())
}

/** TypedImperativeAggregate: bounded top-k of (score: double, id: long) per
  * group with full partial-aggregation support (map-side combine keeps k per
  * task; merge keeps k). No Catalyst builtin has a bounded buffer —
  * collect_list grows with the group and max_by keeps only one row.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[TopKBuf]
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(k >= 1, s"topK: k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKAgg.resultType
  override def prettyName: String = "top_k"

  // declared input types: the analyzer inserts the numeric widenings (int
  // id -> long, float score -> double) and rejects anything else at
  // analysis — never a mid-job ClassCastException in update()
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.offer(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = { buf.merge(other); buf }

  override def eval(buf: TopKBuf): Any = {
    val arr = buf.sorted
    new GenericArrayData(arr.map(e => InternalRow(e.id, e.score): Any))
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.heap.size)
    val it = buf.heap.iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeDouble(e.score); out.writeLong(e.id)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuf(k)
    var i = 0
    while (i < n) { buf.offer(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1))
}
