package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Exact discrete percentiles of a numeric column, computed distributively.
  *
  * Definition (shared INTEGER rank math, so a SQL oracle reproduces it with
  * no floating-point ceil hazards — ceil(0.9 * n) in double can land one
  * rank high when 0.9*n is mathematically integral): percentile p (percent)
  * is the smallest v whose cumulative count reaches
  * ceilDiv(n * p, 100) = (n * p + 99) / 100.
  *
  * Distributed shape: a radix select on a 64-bit signed code of each value
  * that keeps the value order ([[orderKey]]; integral values are their own
  * code). Like a column sketch, a short code prefix decides most rows, and
  * only the rows that share a target's prefix are ever looked at in full.
  *   1. one aggregate counts the rows per top-16-bit prefix (at most 65 536
  *      rows reach the driver) and carries the cut counts; the driver finds
  *      n and, per requested rank, the prefix holding it and the rank within;
  *   2. a target prefix holding more than 2^16 rows is refined by the next
  *      16 bits, all such prefixes in one aggregate per round (at most three
  *      rounds; a prefix at shift 0 is a single value);
  *   3. one filter-and-collect (no shuffle) fetches the codes of the narrow
  *      target prefixes, which the driver sorts to pick each rank.
  * Driver memory is bounded by 65 536 rows per percentile, never by the
  * value cardinality, and no task holds all distinct values. On inputs where
  * every target prefix is narrow the whole call runs one exchange.
  */
object ExactQuantile {

  /** Rows a prefix may hold and still be resolved by collecting its codes. */
  private val NarrowRows = 1L << 16
  /** Code bits added to the prefix per round. */
  private val RadixBits = 16

  /** (n * p + 99) / 100 without FP: the rank the p-th percentile must reach. */
  def rankOf(n: Long, percent: Int): Long = (n * percent + 99L) / 100L

  /** Order-preserving signed code of a double, in Spark's order: -0.0 and
    * 0.0 share a code, and NaN (every NaN bit pattern) sorts above +Infinity.
    * Public because generated code calls it.
    */
  def orderKey(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    if (b < 0) b ^ Long.MaxValue else b
  }

  /** The double whose [[orderKey]] is `k`. */
  private def fromOrderKey(k: Long): Double =
    java.lang.Double.longBitsToDouble(if (k < 0) k ^ Long.MaxValue else k)

  /** One row: (n_rows, exact_p<p1>, exact_p<p2>, ...). Null values are
    * excluded; an empty input yields n_rows = 0 with null percentiles.
    * The value column must be integral, float or double.
    */
  def percentiles(df: DataFrame, value: Column, percents: Seq[Int]): DataFrame =
    percentilesWithCuts(df, value, percents, Nil)

  /** [[percentiles]] plus, per cut value q, the exact number of rows <= q
    * (`le_<i>`) and < q (`lt_<i>`) — the inputs of a quantile-sketch rank
    * audit. Cuts need an integral `value` column, so the comparison is the
    * column's own. The cut counts ride the first aggregate, so auditing a
    * sketch costs no extra scan of the input.
    */
  def percentilesWithCuts(df: DataFrame, value: Column, percents: Seq[Int],
      cuts: Seq[Long]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100]: $percents")
    val spark = df.sparkSession
    val valueType = df.select(value.as("v")).schema.head.dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(valueType)
    val floating = valueType == FloatType || valueType == DoubleType
    require(integral || floating,
      s"exact percentiles need an integral, float or double column, got $valueType")
    require(cuts.isEmpty || integral,
      s"cut counts need an integral value column, got $valueType")
    val schema = StructType(
      StructField("n_rows", LongType, nullable = false) +:
        (percents.map(p => StructField(s"exact_p$p", valueType, nullable = true)) ++
          cuts.indices.flatMap(i => Seq(
            StructField(s"le_$i", LongType, nullable = false),
            StructField(s"lt_$i", LongType, nullable = false)))))
    def oneRow(vals: Seq[Any]): DataFrame =
      spark.createDataFrame(java.util.List.of(Row.fromSeq(vals)), schema)
    def decode(k: Long): Any = valueType match {
      case ByteType    => k.toByte
      case ShortType   => k.toShort
      case IntegerType => k.toInt
      case LongType    => k
      case FloatType   => fromOrderKey(k).toFloat
      case _           => fromOrderKey(k)
    }

    val k = col("k")
    val code =
      if (integral) value.cast(LongType)
      else Bridge.column(DoubleOrderKey(Bridge.expression(value.cast(DoubleType))))
    val keys = df.where(value.isNotNull).select(code.as("k"))
    def prefixCounts(rows: Array[Row]): Array[(Long, Long)] =
      rows.map(r => r.getLong(0) -> r.getLong(1))

    var shift = 64 - RadixBits
    val top = keys.groupBy(shiftright(k, shift).as("p"))
      .agg(count(lit(1)).as("c"),
        cuts.flatMap(q => Seq(count(when(k <= q, 1)), count(when(k < q, 1)))): _*)
      .collect()
    val n = top.map(_.getLong(1)).sum
    val cutCounts = cuts.indices.flatMap(i => Seq(2 + 2 * i, 3 + 2 * i))
      .map(j => top.map(_.getLong(j)).sum)
    if (n == 0L) return oneRow(n +: (percents.map(_ => null) ++ cutCounts))

    val topCounts = prefixCounts(top).sortBy(_._1)
    var targets = percents.map(p => locate(shift, topCounts, rankOf(n, p)))
    def wide(t: Target): Boolean = t.shift > 0 && t.count > NarrowRows
    while (targets.exists(wide)) {
      val sub = shift - RadixBits
      val children = prefixCounts(
        keys.where(shiftright(k, shift).isin(targets.filter(wide).map(_.prefix).distinct: _*))
          .groupBy(shiftright(k, sub).as("p")).agg(count(lit(1)).as("c")).collect())
        .groupBy(_._1 >> RadixBits).view.mapValues(_.sortBy(_._1)).toMap
      targets = targets.map(t => if (wide(t)) locate(sub, children(t.prefix), t.rank) else t)
      shift = sub
    }

    // a target at shift 0 is its own code; the others are narrow and their
    // codes are fetched together
    val narrow = targets.filter(_.shift > 0).map(t => t.shift -> t.prefix).distinct
    val codes: Map[(Int, Long), Array[Long]] =
      if (narrow.isEmpty) Map.empty
      else {
        val inNarrow = narrow.groupBy(_._1)
          .map { case (s, ps) => shiftright(k, s).isin(ps.map(_._2): _*) }.reduce(_ || _)
        val got = keys.where(inNarrow).collect().map(_.getLong(0))
        narrow.map { case (s, p) => (s, p) -> got.filter(c => (c >> s) == p).sorted }.toMap
      }
    val values = targets.map(t => decode(
      if (t.shift == 0) t.prefix else codes(t.shift -> t.prefix)((t.rank - 1).toInt)))
    oneRow(n +: (values ++ cutCounts))
  }

  /** The `rank`-th smallest code is the `rank`-th of the `count` codes c
    * with c >> shift == prefix.
    */
  private final case class Target(shift: Int, prefix: Long, count: Long, rank: Long)

  /** The target holding the `rank`-th code, from (prefix, count) pairs
    * sorted by prefix.
    */
  private def locate(shift: Int, counts: Array[(Long, Long)], rank: Long): Target = {
    var before = 0L
    var i = 0
    while (before + counts(i)._2 < rank) { before += counts(i)._2; i += 1 }
    Target(shift, counts(i)._1, counts(i)._2, rank - before)
  }
}

/** double_order_key(d) -> bigint: [[ExactQuantile.orderKey]] as a codegen'd
  * expression, the radix code of a float or double value column.
  */
private[checks] case class DoubleOrderKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "double_order_key"

  override def nullSafeEval(input: Any): Any =
    ExactQuantile.orderKey(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.checks.ExactQuantile.orderKey($c)")

  override protected def withNewChildInternal(newChild: Expression): DoubleOrderKey =
    copy(child = newChild)
}
