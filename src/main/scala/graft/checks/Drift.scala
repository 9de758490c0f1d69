package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Distribution-drift statistics against a baseline snapshot (north-star:
  * "KS/PSI distribution-drift tests on span-offset and kind-frequency
  * histograms"). Both reduce to small histograms, so the heavy work is one
  * distributed pass over both sides at once and only the histogram reaches
  * the final step. KS folds both sides' bucket counts in one job with no
  * exchange ([[Bridge.foldRows]]) and computes the CDFs on the driver from
  * 2 × buckets counts; PSI keeps its category histogram in Catalyst, since
  * category cardinality has no bound.
  */
object Drift {

  private val Epsilon = 1e-6 // PSI guard for empty cells (standard practice)

  /** Population Stability Index between two categorical distributions:
    * PSI = Σ (p−q) · ln(p/q) over category frequencies, with null as one
    * category on both sides. The one-group case of [[psiGrouped]]: each
    * side is counted per category on its own scan, and the tagged counts
    * are scored by the same kernel. Returns one row (psi: double), with
    * psi = null when one side is empty, and no row when both are.
    */
  def psi(current: DataFrame, baseline: DataFrame, category: Column): DataFrame = {
    def side(df: DataFrame, cur: Long): DataFrame =
      df.groupBy(category.as("cat")).agg(count(lit(1)).as("n"))
        .select(lit(0).as("g"), col("cat"),
          (col("n") * cur).as("n_cur"), (col("n") * (1L - cur)).as("n_base"))
    psiTagged(side(current, 1L).unionByName(side(baseline, 0L))).select(col("psi"))
  }

  /** Kolmogorov–Smirnov statistic between two numeric distributions via a
    * fixed bucketing: KS = max |CDF_cur − CDF_base| over bucket edges.
    * Exact for discrete/bucketed data; an upper-bounded approximation
    * (±1/buckets) for continuous data — the scale-path tradeoff chosen by
    * SURVEY.md §2 Part B (aggregate histograms, never sort 10^12 rows).
    * A side with no non-null value gives ks = null.
    *
    * Runs its one job when called (a fold of both sides' bucket counts, no
    * exchange) and returns a one-row local frame (ks: double). The driver
    * holds 2 × buckets counts.
    */
  def ksBucketed(current: DataFrame, baseline: DataFrame, value: Column,
      lo: Double, hi: Double, buckets: Int = 256): DataFrame = {
    val bucket = least(greatest(
      floor((value - lit(lo)) / lit((hi - lo) / buckets)), lit(0L)),
      lit(buckets.toLong - 1))
    // each row's slot in one count array: bucket b of the current side is
    // slot b, of the baseline slot buckets + b
    def side(df: DataFrame, offset: Long): DataFrame =
      df.where(value.isNotNull).select((bucket + lit(offset)).as("slot"))
    val counts = Bridge.foldRows(side(current, 0L).unionByName(side(baseline, buckets.toLong)))(
      new Array[Long](2 * buckets))(
      (a, row) => { a(row.getLong(0).toInt) += 1; a },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    ksRow(current, ksOfCounts(counts, buckets))
  }

  /** max |cdf_cur − cdf_base| over the buckets that hold a row on either
    * side, each CDF its cumulative count divided (as doubles) by its side's
    * total; None when either side's total is 0.
    */
  private def ksOfCounts(counts: Array[Long], buckets: Int): Option[Double] = {
    val totalCur = counts.iterator.take(buckets).sum
    val totalBase = counts.iterator.drop(buckets).sum
    if (totalCur == 0L || totalBase == 0L) None
    else {
      var cumCur, cumBase = 0L
      var ks = 0.0
      for (b <- 0 until buckets if counts(b) + counts(buckets + b) > 0L) {
        cumCur += counts(b)
        cumBase += counts(buckets + b)
        ks = math.max(ks, math.abs(cumCur.toDouble / totalCur - cumBase.toDouble / totalBase))
      }
      Some(ks)
    }
  }

  private val KsSchema = StructType(Seq(StructField("ks", DoubleType, nullable = true)))

  private def ksRow(like: DataFrame, ks: Option[Double]): DataFrame =
    like.sparkSession.createDataFrame(java.util.List.of(Row(ks.orNull)), KsSchema)

  /** Auto-ranged [[ksBucketed]]: pass 1 computes the combined [min, max] of
    * both sides, pass 2 buckets on exactly that range. A 100 TB corpus with
    * an unknown value range cannot silently clip into [[ksBucketed]]'s clamp
    * buckets — with a fixed guess, every out-of-range value collapses into
    * bucket 0 or buckets-1 and the statistic quietly understates (or
    * misplaces) tail drift.
    *
    * Cost: two jobs, both folds with no exchange. Pass 1 reads the value
    * column of both sides once more, folding it into one (lo, hi) pair per
    * task with no per-row allocation; it returns what Spark's min/max
    * return (NaN sorts above +∞, −0.0 equals 0.0). At extreme scale
    * substitute a sketch range (e.g. a t-digest's [q0, q100]) and call
    * [[ksBucketed]] directly.
    *
    * Degenerate inputs: no non-null values on either side -> ks = null;
    * a single distinct value -> both CDFs are a step at the same bucket ->
    * ks = 0 (the range is widened by 1 to keep the bucket width positive).
    */
  def ksAuto(current: DataFrame, baseline: DataFrame, value: Column,
      buckets: Int = 256): DataFrame = {
    val range = Bridge.foldRows(current.select(value.cast("double"))
      .unionByName(baseline.select(value.cast("double"))))(new MinMax)(
      (r, row) => { if (!row.isNullAt(0)) r.add(row.getDouble(0)); r },
      (r, o) => { if (o.seen) { r.add(o.lo); r.add(o.hi) }; r })
    if (!range.seen) ksRow(current, None)
    else {
      val hi = if (range.hi > range.lo) range.hi else range.lo + 1.0
      ksBucketed(current, baseline, value, range.lo, hi, buckets)
    }
  }

  /** Running min and max of doubles in Spark's order: NaN above +∞, and
    * −0.0 equal to 0.0.
    */
  private final class MinMax extends Serializable {
    var seen = false
    var lo = 0.0
    var hi = 0.0
    private def lt(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)
    def add(v: Double): Unit =
      if (!seen) { seen = true; lo = v; hi = v }
      else {
        if (lt(v, lo)) lo = v
        if (lt(hi, v)) hi = v
      }
  }

  /** Kind-frequency histogram of a docs table: (kind, freq) rows, the input
    * to a PSI/KS drift check against a baseline snapshot. The explode feeds
    * a partial hash aggregate in the SAME stage (map-side combine), so the
    * per-span rows never cross the network — the only shuffle is the tiny
    * (kind, partial-count) aggregation, a handful of rows per partition.
    * Column pruning keeps every other span field (text, media_ref) out of
    * the scan: only `spans.kind` is read.
    */
  def kindFrequencies(docs: DataFrame): DataFrame =
    docs
      .select(explode(col("spans.kind")).as("kind"))
      .groupBy(col("kind")).agg(count(lit(1)).as("freq"))

  /** Per-group PSI of observed (group, cat, n) counts against one baseline
    * (cat, n_base) histogram — the drift statistic per event-time window
    * (feed [[graft.streaming.StreamingValidation.kindFrequencyStream]]'s
    * closed windows in as `grouped`), per source shard, per day, etc.
    *
    * Every group is scored over its own categories and the baseline's, so
    * both a vanished category (in the baseline, absent from the group) and
    * a novel one (in the group, absent from the baseline) register as
    * drift. Categories are matched by grouping, not by joining, so null is
    * one category on both sides. The baseline is tiny (category
    * cardinality) and is broadcast to every group; duplicated (group, cat)
    * or baseline cat rows are summed. An empty baseline, or a group whose
    * counts sum to 0, gives psi = null; an empty `grouped` gives no rows.
    *
    * @param grouped  observed counts; `group`/`category`/`n` name its columns
    * @param baseline histogram with columns named `cat` and `n_base`
    *                 (e.g. `kindFrequencies(...).select($"kind".as("cat"),
    *                 $"freq".as("n_base"))`)
    */
  def psiGrouped(grouped: DataFrame, baseline: DataFrame,
      group: Column, category: Column, n: Column): DataFrame = {
    val cur = grouped.groupBy(group.as("g"), category.as("cat")).agg(sum(n).as("n_cur"))
    val base = baseline.groupBy(col("cat")).agg(sum(col("n_base")).as("n_base"))
    // the cross join gives every group a row per baseline category, so a
    // category the group lacks still meets its baseline count
    val tagged = cur.withColumn("n_base", lit(0L))
      .unionByName(cur.select(col("g")).distinct()
        .crossJoin(broadcast(base.withColumn("n_cur", lit(0L)))))
    psiTagged(tagged)
  }

  /** PSI per group `g` of (g, cat, n_cur, n_base) rows, each carrying one
    * side's count (0 on the other side): a (g, cat) seen on one side only
    * gets a 0 count on the other, as a full-outer join would give it, and
    * null is one category because the rows are matched by grouping. A
    * group with a zero total on either side has no shares on that side, so
    * its psi is null (try_divide: under ANSI a plain n / 0 throws).
    *
    * Each group's (n_cur, n_base) pairs are collected into one row next to
    * its totals and scored there, with no window and no join: a window
    * over `psi`'s literal `g` lost its partition key to constant folding,
    * and a join back to the totals is a self-join, whose second copy of the
    * input reads past a cached input (in a streaming `foreachBatch`, it
    * re-runs the micro-batch). Within a group either every share on a side
    * is null (a zero total) or none is, so the fold's null is `sum`'s.
    *
    * A group's categories must fit in an executor's memory: `collect_list`
    * holds the whole list on the heap, where a window could spill it. With
    * `psiGrouped`'s cross join every group holds at least the baseline's
    * categories, so a baseline of unbounded category cardinality (free-text
    * values rather than kinds or tags) wants its categories bucketed first.
    * Tested bound (ChecksSpec): one group of 100 000 categories against a
    * 100 000-category baseline, 150 000 categories in all, scores within
    * 1e-9 of a plain-Scala PSI in the test suite's 8 GB heap.
    */
  private def psiTagged(tagged: DataFrame): DataFrame = {
    val byG = tagged
      .groupBy(col("g"), col("cat"))
      .agg(sum(col("n_cur")).as("n_cur"), sum(col("n_base")).as("n_base"))
      .groupBy(col("g"))
      .agg(collect_list(struct(col("n_cur"), col("n_base"))).as("c"),
        sum(col("n_cur")).as("t_cur"), sum(col("n_base")).as("t_base"))
    // greatest skips a null share, so a zero total must null it explicitly
    def share(n: Column, total: String): Column =
      when(col(total) =!= 0, greatest(try_divide(n, col(total)), lit(Epsilon)))
    byG.select(col("g"), aggregate(col("c"), lit(0.0), { (acc, x) =>
      val (p, q) = (share(x("n_cur"), "t_cur"), share(x("n_base"), "t_base"))
      acc + (p - q) * log(p / q)
    }).as("psi"))
  }
}
