package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.SketchExprs.cosineSim

/** Approximate-nearest-neighbor search over an embedding column. Every
  * search here (and [[Ivf.search]]) takes a query TABLE `(qid, qvec)` —
  * one row or 10^4, one job either way — and returns (qid, rank, id,
  * cosine), rank 1..k per query by (cosine DESC, id ASC), through the shared
  * [[rankTopK]] tail.
  *
  * Baseline: brute-force cosine top-k ([[topKCosine]]: one scan, no shuffle
  * of corpus data — correct at any scale, O(N·Q·d) work).
  * Scale path: the IVF index ([[Ivf.search]]) — each query scans only its
  * probed clusters' partitions, then exact re-rank.
  */
object Similarity {

  /** Brute-force top-k: the query table is scored against the corpus in one
    * job. Queries ride a broadcast — a query batch is small relative to the
    * corpus — so the corpus streams map-side with NO shuffle of corpus data;
    * the grouped top-k is [[graft.agg.TopKAgg]], whose bounded O(k) buffer
    * partial-aggregates map-side, so the only shuffle carries <= k rows per
    * (task, query). Exact at any scale (the IVF path trades exactness for
    * less compute).
    *
    * @return (qid, rank, id, cosine), rank 1..k per query by
    *         (cosine DESC, id ASC).
    */
  def topKCosine(df: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column, k: Int): DataFrame = {
    val corpus = df.select(id.as("id"), vec.as("v"))
    val q = queries.select(qid.as("qid"), qvec.as("qv"))
    val scored = corpus.join(broadcast(q))
      .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Shared tail of every search: bounded top-k per query
    * ([[graft.agg.TopKAgg]] — O(k) state, map-side combine), exploded to
    * (qid, rank, id, cosine) rows.
    */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.agg.TopKAgg.topK(col("cosine"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("qid"), (col("r") + 1).cast("long").as("rank"),
        col("e.id").as("id"), col("e.score").as("cosine"))
}
