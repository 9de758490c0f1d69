package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.VectorAvgAgg
import graft.ops.{Ivf, Similarity}

/** IVF ANN: quantizer training, inverted-list assignment, probe search, and
  * the partition-pruning property that makes probing cheap at scale.
  */
class IvfSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** 4 well-separated clusters in 16 dims: center c has 1.0 at dim 4c, plus
    * small deterministic per-vector noise.
    */
  private lazy val clustered = {
    val rows = for (i <- 0L until 400L) yield {
      val c = (i % 4).toInt
      val v = Array.tabulate(16) { d =>
        val noise = (((i * 31 + d * 7) % 19).toInt - 9) / 100f
        (if (d == c * 4) 1f else 0f) + noise
      }
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("vectorAvg: partition-independent mean with nulls and empty groups") {
    val df = Seq(
      (0, Some(Seq(1f, 2f, 3f))),
      (0, Some(Seq(3f, 4f, 5f))),
      (0, None),
      (1, Some(Seq(10f, 0f, -2f)))).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) = d.groupBy($"g")
      .agg(VectorAvgAgg.vectorAvg($"v").as("m"))
      .select($"g", $"m.n", $"m.avg").orderBy($"g")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    val a = run(df)
    val b = run(df.repartition(7))
    assert(a.toSeq == b.toSeq)
    assert(a(0) == ((0, 2L, Seq(2f, 3f, 4f)))) // null row not counted
    assert(a(1) == ((1, 1L, Seq(10f, 0f, -2f))))
    val empty = df.where($"g" === 99)
      .agg(VectorAvgAgg.vectorAvg($"v").as("m")).select($"m.n", $"m.avg").collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("vectorAvg rejects an array<double> column at analysis") {
    // its buffer reads floats, so doubles would be summed as 4-byte halves
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((0, Seq(1.0, 2.0))).toDF("g", "v").agg(VectorAvgAgg.vectorAvg($"v")))
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }

  /** Result ids of a one-query search, best first. */
  private def ids(top: org.apache.spark.sql.DataFrame): Seq[Long] =
    top.orderBy($"rank").select($"id").collect().map(_.getLong(0)).toSeq

  test("ivf: training recovers well-separated clusters; nProbe=1 gets the right list") {
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 3)
    assert(model.k == 4 && model.dims == 16)
    val index = Ivf.assign(clustered, $"vec_id", $"embedding", model)
    // every true cluster maps to exactly one quantizer cell
    val purity = index.withColumn("truth", $"id" % 4)
      .groupBy($"truth").agg(countDistinct($"cluster").as("cells"))
      .collect().map(_.getLong(1))
    assert(purity.forall(_ == 1), s"cluster split across cells: ${purity.toSeq}")
    // nProbe=1 search returns only same-cluster ids and matches brute force
    val q = clustered.where($"vec_id" === 0)
    val got = ids(Ivf.search(index, model, q, $"vec_id", $"embedding",
      topK = 10, nProbe = 1))
    assert(got.length == 10 && got.forall(_ % 4 == 0))
    val exact = ids(Similarity.topKCosine(clustered, $"vec_id", $"embedding",
      q, $"vec_id", $"embedding", 10))
    assert(got == exact) // cross-cluster cosines are far below intra
  }

  test("ivf: full probe equals brute force on real embeddings (oracle shape)") {
    val q = emb.where($"vec_id" === 0)
    val rest = emb.where($"vec_id" =!= 0)
    val model = Ivf.train(rest, $"vec_id", $"embedding", k = 8, iters = 2)
    val index = Ivf.assign(rest, $"vec_id", $"embedding", model)
    val ivf = ids(Ivf.search(index, model, q, $"vec_id", $"embedding",
      topK = 10, nProbe = 8))
    val exact = ids(Similarity.topKCosine(rest, $"vec_id", $"embedding",
      q, $"vec_id", $"embedding", 10))
    assert(ivf == exact)
  }

  test("ivf: partial probe keeps usable recall on real embeddings") {
    val q = emb.where($"vec_id" === 0)
    val rest = emb.where($"vec_id" =!= 0)
    val model = Ivf.train(rest, $"vec_id", $"embedding", k = 8, iters = 2)
    val index = Ivf.assign(rest, $"vec_id", $"embedding", model)
    val exact = ids(Similarity.topKCosine(rest, $"vec_id", $"embedding",
      q, $"vec_id", $"embedding", 10)).toSet
    // measured curve on this table (near-random vectors, the hard case):
    // nProbe 1..8 -> recall 0,2,4,6,7,9,10,10; assert with margin for float
    // low-bit drift in training
    val approx = ids(Ivf.search(index, model, q, $"vec_id", $"embedding",
      topK = 10, nProbe = 5)).toSet
    assert(approx.intersect(exact).size >= 5, s"recall too low: $approx vs $exact")
  }

  test("CosineRank kernel ranks clusters like the HOF array_sort formulation") {
    // independent reference: array_sort over (-cosine, j) structs, the
    // interpreted form the kernel replaced — pinned for every prefix
    // length n (assignment is n = 1, a probe is n = nProbe) on a trained
    // model (double-noise centroids) and the axis model over the real
    // float embeddings
    def hofRank(vec: org.apache.spark.sql.Column, model: Ivf.Model, n: Int) = {
      val cm = typedLit(model.centroids.map(_.toSeq).toSeq)
      slice(transform(array_sort(transform(sequence(lit(0), lit(model.k - 1)), j =>
        struct(
          (-graft.expr.SketchExprs.cosineSim(vec, element_at(cm, j + 1))).as("negcos"),
          j.cast("int").as("cluster")))), s => s.getField("cluster")), 1, n)
    }
    def mismatches(df: org.apache.spark.sql.DataFrame, model: Ivf.Model): Long =
      (1 to model.k).map { n =>
        df.where(not(Ivf.probeClusters($"embedding", model, n) <=>
          hofRank($"embedding", model, n))).count()
      }.sum + df.where(not(Ivf.clusterOf($"embedding", model) <=>
        hofRank($"embedding", model, 1).getItem(0))).count()
    val m1 = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    assert(mismatches(clustered, m1) == 0)
    val m2 = Ivf.Model.axis(8, 64)
    assert(mismatches(emb, m2) == 0)
    // NaN edges: a NaN vector (every cosine NaN) and a NaN CENTROID (one
    // cosine NaN per row) must rank exactly like the HOF form — NaN negcos
    // last, all-NaN ties in cluster order (review finding: a
    // cos-maximizing comparison selected NaN FIRST). Dimension mismatch
    // (the 8-dim row): every HOF cosine is null, so both give cluster order.
    val nanVec = Seq((0L, Seq.fill(16)(Float.NaN)),
      (1L, Array.tabulate(16)(d => if (d == 7) Float.NaN else 1f).toSeq),
      (2L, Array.tabulate(16)(_.toFloat).toSeq),
      (3L, Seq.fill(8)(1f))).toDF("vec_id", "embedding")
    val m3 = Ivf.Model.axis(4, 16)
    assert(mismatches(nanVec, m3) == 0)
    val nanCentroid = Ivf.Model(Array(
      Array.tabulate(16)(d => if (d == 3) Float.NaN else 0.5f),
      Array.tabulate(16)(_ => 1f),
      Array.tabulate(16)(d => if (d < 8) 1f else -1f)))
    assert(mismatches(nanVec, nanCentroid) == 0)
    def probes(id: Long, model: Ivf.Model) = nanVec.where($"vec_id" === id)
      .select(Ivf.probeClusters($"embedding", model, model.k)).head().getSeq[Int](0)
    // the specific poison case: a finite row ranks the NaN centroid
    // (cluster 0 here) last, and never lands on it
    assert(probes(2L, nanCentroid) == Seq(1, 2, 0))
    assert(probes(3L, nanCentroid) == Seq(0, 1, 2))
  }

  /** Parquet files of an on-disk index, by path. */
  private def indexFiles(dir: String): Vector[String] = {
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      fs.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector
    } finally fs.close()
  }

  test("ivf: a partitioned index prunes non-probed clusters at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    val dir = Files.createTempDirectory("graft-ivf").toString
    Ivf.writeIndex(Ivf.assign(clustered, $"vec_id", $"embedding", model), dir)
    val index = Ivf.readIndex(spark, dir)
    val files = indexFiles(dir)
    // the hard evidence: the scan's file-read metric equals the file count
    // of the probed cluster directories, not the whole index
    def assertPrunes(queries: org.apache.spark.sql.DataFrame): Array[Long] = {
      val search = Ivf.search(index, model, queries, $"qid", $"qv", topK = 5, nProbe = 1)
      val got = search.collect().map(_.getAs[Long]("id"))
      val scanNode = finalPlanNodes(search)
        .collect { case f: FileSourceScanExec => f }.head
      assert(scanNode.toString.contains("PartitionFilters") &&
        scanNode.toString.contains("cluster"),
        s"no partition pruning in scan:\n$scanNode")
      val probed = queries.select(explode(Ivf.probeClusters($"qv", model, 1)))
        .collect().map(_.getInt(0)).toSet
      val probedFiles = files.count(f => probed.exists(c => f.contains(s"cluster=$c/")))
      assert(probedFiles > 0 && files.size > probedFiles,
        s"degenerate layout: $probedFiles of ${files.size} files probed")
      val numFilesRead = scanNode.metrics("numFiles").value
      assert(numFilesRead == probedFiles,
        s"scan read $numFilesRead files; probed clusters $probed have " +
          s"$probedFiles of ${files.size} total — pruning did not happen")
      got
    }
    // a one-row query frame: the pruned search returns same-cluster results
    val one = clustered.where($"vec_id" === 1).select($"vec_id".as("qid"), $"embedding".as("qv"))
    assert(assertPrunes(one).forall(_ % 4 == 1))
    // a multi-row frame of local rows: the probe set is the union of both
    // queries' clusters, and still a strict subset of the index
    val two = Seq((10L, Array.tabulate(16)(d => if (d == 4) 1f else 0f).toSeq),
      (20L, Array.tabulate(16)(d => if (d == 8) 1f else 0f).toSeq)).toDF("qid", "qv")
    assert(assertPrunes(two).forall(id => id % 4 == 1 || id % 4 == 2))
  }

  test("readIndex reads the written index's schema and rows with no inference job") {
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    val dir = Files.createTempDirectory("graft-ivf-schema").toString
    val written = Ivf.assign(clustered, $"vec_id", $"embedding", model)
    Ivf.writeIndex(written, dir)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainBus()
    sc.addSparkListener(listener)
    val index = try { val i = Ivf.readIndex(spark, dir); drainBus(); i }
      finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs to read an index")
    def types(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.catalogString).sortBy(_._1)
    assert(types(index) == types(written) && types(index) == types(spark.read.parquet(dir)))
    val cols = Seq($"id", $"v", $"cluster")
    assert(index.select(cols: _*).exceptAll(written.select(cols: _*)).isEmpty &&
      written.select(cols: _*).exceptAll(index.select(cols: _*)).isEmpty)
  }

  test("writeIndex with AQE off writes one file per cluster directory") {
    // the rebalance hint is planned only by AQE; with AQE off it must fall
    // back to a cluster repartition, not write one sliver per input task
    val model = Ivf.train(clustered, $"vec_id", $"embedding", k = 4, iters = 2)
    val dir = Files.createTempDirectory("graft-ivf-noaqe").toString
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Ivf.writeIndex(
      Ivf.assign(clustered.repartition(4), $"vec_id", $"embedding", model), dir)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val perDir = indexFiles(dir).groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(perDir.size == 4, s"cluster directories: ${perDir.keys}")
    assert(perDir.values.forall(_.size == 1),
      s"files per cluster directory: ${perDir.map { case (d, fs) => d -> fs.size }}")
  }
}
