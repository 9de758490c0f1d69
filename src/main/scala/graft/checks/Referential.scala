package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential-integrity check of a fact key against a (small) dimension —
  * the north-star's "broadcast-hash referential checks of media_ref against
  * an asset catalog". The dimension is broadcast as its key column alone,
  * one row per dimension row (no `distinct`: an anti-join gives the same
  * rows with duplicate keys on the build side), so nothing is shuffled on
  * either side regardless of fact scale (left_anti = dangling refs). The
  * dimension's row count, not its distinct key count, must fit a broadcast.
  */
object Referential {

  /** Fact rows whose key has no match in the dimension (nulls excluded —
    * a null ref is "no media", not a dangling one; a null dimension key
    * matches nothing).
    */
  def dangling(fact: DataFrame, factKey: Column, dim: DataFrame, dimKey: Column): DataFrame =
    fact
      .where(factKey.isNotNull)
      .join(broadcast(dim.select(dimKey.as("_dim_key"))),
        factKey === col("_dim_key"), "left_anti")

  /** Dangling media_ref spans of a docs table vs an asset catalog: returns
    * (doc_id, media_ref). The spans array is filtered intra-row with a
    * higher-order function — media extraction never explodes non-media spans.
    */
  def danglingMediaRefs(docs: DataFrame, catalog: DataFrame, assetKey: Column): DataFrame = {
    val refs = docs
      .select(col("doc_id"),
        filter(col("spans"), s => s.getField("kind") === "media").as("media"))
      .where(size(col("media")) > 0)
      .select(col("doc_id"), explode(col("media.media_ref")).as("media_ref"))
    dangling(refs, col("media_ref"), catalog, assetKey)
      .select(col("doc_id"), col("media_ref"))
  }
}
