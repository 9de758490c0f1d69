package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField,
  StructType}

import graft.agg.VectorAvgAgg
import graft.expr.SketchExprs.cosineSim

/** IVF (inverted-file) approximate-nearest-neighbor index: spherical
  * k-means coarse quantizer + per-cluster inverted lists, the scale path the
  * brute-force [[Similarity.topKCosine]] graduates to. Like every search in
  * `graft.ops`, [[search]] takes a query TABLE (qid, qvec) and returns
  * (qid, rank, id, cosine).
  *
  * Scale shape (the reason IVF beats brute force at 100 TB for repeated
  * queries):
  *   - TRAIN: each Lloyd iteration is one scan + one aggregation whose
  *     map-side-combined state is k × dims doubles per partition
  *     ([[graft.agg.VectorAvgAgg]]) — never a N × dims shuffle. Train on a
  *     sample at extreme scale; assignment quality degrades gracefully.
  *   - ASSIGN: map-only (rank 1 of k cosines per row, one codegen'd
  *     expression); write the index `partitionBy("cluster")` so the cluster
  *     id becomes a *partition column*.
  *   - SEARCH: each query ranks the clusters with the SAME kernel and probes
  *     its best nProbe; the probe set becomes a partition filter at the
  *     scan — the queries read ~nProbe/k of the bytes, no shuffle of the
  *     index, then exact re-rank of the candidates.
  *
  * Everything is deterministic given the input (seeds are the k rows with
  * the smallest xxhash64(id); Lloyd mean order-sensitivity only perturbs
  * float low bits, and full-probe search is clustering-independent, which is
  * what the DuckDB oracle pins).
  */
object Ivf {

  /** Coarse quantizer: L2-normalized centroids (spherical k-means). */
  object Model {
    /** Deterministic quantizer-free model: centroid j is the axis vector
      * e_j. Assignment degenerates to argmax of the first k vector
      * components — recomputable in plain SQL, which is what lets the
      * driver's DuckDB oracle pin the PARTIAL-probe search path end-to-end
      * (`ann_ivf_pruned`): with a trained model the probed subset depends
      * on k-means internals no oracle can re-derive. Index mechanics
      * (assign / partitioned write / pruned probe / re-rank) are identical
      * to a trained model's.
      */
    def axis(k: Int, dims: Int): Model = {
      require(k >= 1 && k <= dims)
      Model(Array.tabulate(k)(j => Array.tabulate(dims)(d => if (d == j) 1f else 0f)))
    }
  }

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    def dims: Int = centroids.head.length
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Cosine-nearest cluster id for `vec`, ties to the lower cluster id: rank
    * 1 of [[graft.expr.CosineRank]], the kernel [[probeClusters]] ranks
    * with — so a partial probe always reaches the cluster a vector was
    * assigned to, and full probe is exact.
    */
  def clusterOf(vec: Column, model: Model): Column =
    graft.expr.SketchExprs.cosineRank(vec, model.centroids, 1).getItem(0)

  /** The `nProbe` clusters nearest `vec`, best first, as an array column
    * (cosine DESC, ties to the lower cluster id; [[graft.expr.CosineRank]]).
    * k × dims multiply-adds per query row, map-only.
    */
  def probeClusters(vec: Column, model: Model, nProbe: Int): Column = {
    require(nProbe >= 1 && nProbe <= model.k)
    graft.expr.SketchExprs.cosineRank(vec, model.centroids, nProbe)
  }

  /** Train the coarse quantizer: deterministic seeding (k smallest
    * xxhash64(id)), then `iters` Lloyd rounds of assign -> mean
    * ([[VectorAvgAgg]]: one k×dims-state aggregation per round). Empty
    * clusters keep their previous centroid.
    */
  def train(df: DataFrame, id: Column, vec: Column, k: Int, iters: Int = 3): Model = {
    require(k > 0 && iters >= 0)
    // train is inherently iterative (seed job + one aggregation per Lloyd
    // round): persist the projected training columns so each round reads
    // the cached (id-hash, vector) pairs instead of rescanning the source
    // (at extreme scale the caller trains on a sample, which this caches)
    val data = df.select(vec.as("v"), xxhash64(id).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = data
        .orderBy(col("h"), col("v"))
        .limit(k)
        .select(col("v"))
        .collect()
        .map(r => normalize(r.getSeq[Float](0).toArray))
      require(seeds.length == k,
        s"ivf: need >= $k training vectors, got ${seeds.length}")
      var model = Model(seeds)
      for (_ <- 0 until iters) {
        val means = data
          .groupBy(clusterOf(col("v"), model).as("cluster"))
          .agg(VectorAvgAgg.vectorAvg(col("v")).as("m"))
          .select(col("cluster"), col("m.avg"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
          .toMap
        model = Model(Array.tabulate(model.k)(c =>
          means.get(c).map(normalize).getOrElse(model.centroids(c))))
      }
      model
    } finally data.unpersist()
  }

  /** Inverted lists: (id, v, cluster). Persist with
    * `.write.partitionBy("cluster")` so probes prune partitions at the scan.
    */
  def assign(df: DataFrame, id: Column, vec: Column, model: Model): DataFrame =
    df.select(id.as("id"), vec.as("v"))
      .withColumn("cluster", clusterOf(col("v"), model))

  /** Persist the inverted lists partitioned by cluster id: the cluster
    * becomes a PARTITION COLUMN, so [[search]]'s probe-set filter prunes
    * whole directories at the scan — a probe of nProbe/k clusters reads
    * ~nProbe/k of the index bytes (asserted via scan numFiles in IvfSpec).
    *
    * The rows are REBALANCED on `cluster` before the write (guide §6,
    * small files): without it every upstream task writes a sliver into
    * every cluster directory — up to tasks × k files of a few KB each,
    * paid again at every probe as per-file open cost. A rebalance hint,
    * NOT `repartition(col)`: a plain hash repartition funnels each cluster
    * into exactly one task (AQE never splits a repartition-by-column
    * partition — skew splitting applies to rebalance origins only), so a
    * hot cluster would serialize the write into one giant task/file;
    * AQE both merges sliver partitions and splits oversized ones under
    * the rebalance origin. The hint is an AQE feature: with
    * `spark.sql.adaptive.enabled=false` the planner drops it and plans no
    * exchange at all, so that session falls back to `repartition` (one
    * file per cluster directory, hot clusters unsplit).
    */
  def writeIndex(index: DataFrame, dir: String): Unit = {
    val grouped =
      if (index.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean)
        index.hint("rebalance", col("cluster"))
      else index.repartition(col("cluster"))
    grouped.write.mode("overwrite").partitionBy("cluster").parquet(dir)
  }

  /** The schema of an index [[writeIndex]] writes from [[assign]] over long
    * ids and float vectors: (id, v, cluster), `cluster` the partition column.
    */
  private val IndexSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(FloatType)),
    StructField("cluster", IntegerType)))

  /** Read a partitioned index written by [[writeIndex]]. The schema is
    * given, so the read runs no schema-inference job; the cluster values
    * still come from the partition directories.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.schema(IndexSchema).parquet(dir)

  /** Top-k by cosine for a TABLE of queries, probing each query's `nProbe`
    * nearest clusters ([[probeClusters]], map-only). The probe clusters are
    * collected in one small job with no shuffle (nProbe ints per query —
    * less than the broadcast query rows themselves) and their distinct set
    * filters the index with `cluster IN (probes)` BEFORE the join, so a
    * partitionBy("cluster") on-disk index prunes at the scan for any query
    * table (a join key alone does not: dynamic partition pruning needs a
    * selective filter on the query side's plan). The (cluster, qid, qv) rows are broadcast, so the
    * index side never shuffles; per-query top-k is the bounded
    * [[graft.agg.TopKAgg]] ([[Similarity.rankTopK]]). nProbe = model.k
    * reads every list, needs no probe set, and is exact by construction —
    * the oracle-pinned configuration.
    *
    * @return (qid, rank, id, cosine), rank 1..topK per query by
    *         (cosine DESC, id ASC).
    */
  def search(index: DataFrame, model: Model, queries: DataFrame,
      qid: Column, qvec: Column, topK: Int, nProbe: Int): DataFrame = {
    val q = queries.select(qid.as("qid"), qvec.as("qv"))
      .withColumn("cluster", explode(probeClusters(col("qv"), model, nProbe)))
    val probed =
      if (nProbe == model.k) index
      else index.where(col("cluster").isin(
        q.select(col("cluster")).collect().map(_.getInt(0)).distinct.toSeq: _*))
    val scored = probed.join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col("id"), cosineSim(col("v"), col("qv")).as("cosine"))
    Similarity.rankTopK(scored, topK)
  }
}
