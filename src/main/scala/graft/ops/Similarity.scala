package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.SketchExprs.{cosineSim, hyperplaneBands}

/** Approximate-nearest-neighbor search over an embedding column. Every
  * search here (and [[Ivf.search]]) takes a query TABLE `(qid, qvec)` —
  * one row or 10^4, one job either way — and returns (qid, rank, id,
  * cosine), rank 1..k per query by (cosine DESC, id ASC), through the shared
  * [[rankTopK]] tail.
  *
  * Baseline: brute-force cosine top-k ([[topKCosine]]: one scan, no shuffle
  * of corpus data — correct at any scale, O(N·Q·d) work).
  * Scale path: deterministic random-hyperplane LSH bucketing
  * ([[annTopKCosine]]) — candidates share a bucket in >=1 band, then exact
  * re-rank. At 100 TB the bucket join replaces the full scan per query batch.
  */
object Similarity {

  /** Brute-force top-k: the query table is scored against the corpus in one
    * job. Queries ride a broadcast — a query batch is small relative to the
    * corpus — so the corpus streams map-side with NO shuffle of corpus data;
    * the grouped top-k is [[graft.agg.TopKAgg]], whose bounded O(k) buffer
    * partial-aggregates map-side, so the only shuffle carries <= k rows per
    * (task, query). Exact at any scale (the LSH/IVF paths trade exactness
    * for less compute).
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

  /** LSH-bucketed top-k: prefilter each query to the vectors sharing >=1
    * hyperplane band bucket with it ([[graft.expr.HyperplaneBands]]), then
    * exact cosine re-rank. The corpus band rows carry (id, bh) ONLY — the
    * vector must not ride the x`bands` explode (it did in v1: a x32 copy of
    * every embedding through the band join); same shape as
    * [[Dedup.embeddingCosinePairs]], plan-tested in OpsSpec. The query band
    * keys are broadcast, candidates are deduped to thin (qid, id) rows
    * across bands, then ONE vector fetch per surviving candidate and a
    * bounded [[graft.agg.TopKAgg]] top-k per query. Approximate — recall
    * measured against [[topKCosine]] in OpsSpec.
    *
    * Defaults are scale-safe: each band key has 2^rowsPerBand values, so
    * rowsPerBand=16 (65k buckets per band) keeps expected bucket occupancy
    * sub-quadratic at corpus scale, and bands=32 buys recall back. On toy
    * corpora — thousands of rows, where even moderately-similar vectors
    * must collide to be found — pass a coarser banding explicitly (e.g.
    * bands=8, rowsPerBand=4, as the OpsSpec recall test does on 500
    * near-orthogonal vectors).
    */
  def annTopKCosine(df: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      bands: Int = 32, rowsPerBand: Int = 16, dims: Int = 64): DataFrame = {
    val corpus = df.select(id.as("id"), vec.as("v"))
    val bandRows = corpus.select(col("id"),
      explode(hyperplaneBands(col("v"), bands, rowsPerBand, dims)).as("bh"))
    val q = queries.select(qid.as("qid"), qvec.as("qv"))
    val qBands = q.select(col("qid"),
      explode(hyperplaneBands(col("qv"), bands, rowsPerBand, dims)).as("bh"))
    val candIds = bandRows
      .join(broadcast(qBands), Seq("bh"))
      .select(col("qid"), col("id")).distinct() // thin (qid, id) exchange
    val scored = candIds.join(corpus, Seq("id")).join(broadcast(q), Seq("qid"))
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
