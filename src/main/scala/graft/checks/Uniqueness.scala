package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact key-uniqueness check (north-star: "exact uniqueness on doc_id via
  * hash-partitioned repartition with salted-key skew mitigation").
  *
  * Scale notes:
  *  - Counting is two-phase: Catalyst's hash aggregate computes partial
  *    per-partition counts map-side (`partial_count` before the exchange in
  *    the plan), so a hot key ships at most one partial row per input
  *    partition into the exchange — the skew ceiling is #partitions, not
  *    #duplicates (adversarial-hot-key test in ChecksSpec). An earlier
  *    formulation staged this salt EXPLICITLY via a
  *    groupBy(key, spark_partition_id) pre-aggregation; that duplicated
  *    what the partial aggregate already guarantees and cost a second full
  *    exchange of the (key, count) rows — removed (r6 optimization, same
  *    results by construction).
  *  - No sort, no window function, no collect: dup detection is a pure
  *    aggregation. [[dupStats]] folds the duplicated keys' counts into two
  *    longs per task ([[Bridge.foldRows]]), so its summary adds no exchange
  *    after dupKeys' one hash exchange.
  */
object Uniqueness {

  /** (key, n) for keys occurring more than once. */
  def dupKeys(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)

  private val StatsSchema = StructType(Seq(
    StructField("n_dup_keys", LongType, nullable = false),
    StructField("n_surplus_rows", LongType, nullable = false)))

  /** One-row summary: duplicated keys, and the rows beyond each key's first
    * (0 and 0 on unique or empty input). Runs its job when called and
    * returns a one-row local frame.
    */
  def dupStats(df: DataFrame, key: Column): DataFrame = {
    val Array(nDupKeys, nSurplus) = Bridge.foldRows(dupKeys(df, key).select(col("n")))(
      new Array[Long](2))(
      (a, row) => { a(0) += 1; a(1) += row.getLong(0) - 1; a },
      (a, b) => { a(0) += b(0); a(1) += b(1); a })
    df.sparkSession.createDataFrame(java.util.List.of(Row(nDupKeys, nSurplus)), StatsSchema)
  }
}
