package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.StatsAgg
import graft.checks.{Drift, ExactQuantile, Referential, Uniqueness}

/** Stats aggregator, uniqueness (incl. adversarial skew), referential, drift. */
class ChecksSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  /** Runs `body`; returns the Spark jobs it started and the final physical
    * plans (adaptive stages unwrapped) of every query it executed.
    */
  private def traced(body: => Unit): (Int, Seq[SparkPlan]) = {
    val jobs = new AtomicInteger
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans ++= collectWithSubqueries(qe.executedPlan) { case p => p } }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainBus()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try { body; drainBus() }
    finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    (jobs.get, plans.synchronized(plans.toSeq))
  }

  /** Runs `body` once with AQE on and once with it off. */
  private def withAndWithoutAqe(body: String => Unit): Unit =
    for (on <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", on)
      try body(s"AQE $on") finally spark.conf.unset("spark.sql.adaptive.enabled")
    }

  private def shuffles(plans: Seq[SparkPlan]): Seq[ShuffleExchangeLike] =
    plans.collect { case x: ShuffleExchangeLike => x }

  /** percentilesWithCuts over `df`'s column v must equal the nearest ranks
    * of its collected non-null values sorted in Spark's order (-0.0 = 0.0,
    * NaN above +Infinity), and the cut counts must equal a count over them.
    * Values compare with `equals`: NaN must come back as NaN, a zero as
    * 0.0 (never -0.0), and an int column's percentiles as ints.
    */
  private def assertExactQuantiles(df: DataFrame, cuts: Seq[Long] = Nil): Unit = {
    val ps = Seq(1, 50, 90, 99, 100)
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Number, y: Number) => java.lang.Long.compare(x.longValue, y.longValue)
    }
    val vals = df.select("v").collect().toIndexedSeq.filterNot(_.isNullAt(0)).map(_.get(0) match {
      case d: Double => if (d == 0.0) 0.0 else d
      case x => x
    }).sortWith(cmp(_, _) < 0)
    val n = vals.size.toLong
    val longs = if (cuts.isEmpty) Nil else vals.map(_.asInstanceOf[Number].longValue)
    val expected = n +: (ps.map(p => if (n == 0) null else vals((ExactQuantile.rankOf(n, p) - 1).toInt)) ++
      cuts.flatMap(q => Seq(longs.count(_ <= q).toLong, longs.count(_ < q).toLong)))
    val got = ExactQuantile.percentilesWithCuts(df, col("v"), ps, cuts).collect().head.toSeq
    assert(got.size == expected.size &&
      got.zip(expected).forall { case (a, b) => java.util.Objects.equals(a, b) },
      s"got $got, expected $expected")
  }

  /** Fixed-bucket KS recomputed on the driver from the collected values;
    * None when a side has no non-null value.
    */
  private def ksDriver(cur: DataFrame, base: DataFrame, lo: Double, hi: Double,
      buckets: Int): Option[Double] = {
    def bucket(v: Double): Long =
      math.min(math.max(math.floor((v - lo) / ((hi - lo) / buckets)).toLong, 0L), buckets - 1L)
    def hist(df: DataFrame): Map[Long, Long] = df.select("v").collect()
      .filterNot(_.isNullAt(0)).toSeq.groupMapReduce(r => bucket(r.getDouble(0)))(_ => 1L)(_ + _)
    val (hc, hb) = (hist(cur), hist(base))
    val bs = (hc.keySet ++ hb.keySet).toSeq.sorted
    def cdf(h: Map[Long, Long]): Seq[Double] =
      bs.scanLeft(0L)((acc, b) => acc + h.getOrElse(b, 0L)).tail.map(_.toDouble / h.values.sum)
    if (hc.isEmpty || hb.isEmpty) None
    else Some(cdf(hc).zip(cdf(hb)).map { case (a, b) => math.abs(a - b) }.max)
  }

  /** KS over column v in the Catalyst form [[Drift.ksAuto]] had before it
    * became two folds: a min/max aggregate for the range, then both sides'
    * per-bucket counts in one aggregate and window CDFs over the buckets.
    * The window is partitioned by `bucket >= 0`, true on every row, so it
    * runs as one partition as an unpartitioned window does, without that
    * window's warning in the log (Catalyst drops a literal partition key).
    */
  private def ksAutoCatalyst(cur: DataFrame, base: DataFrame, buckets: Int): Option[Double] = {
    val v = col("v")
    val r = cur.select(v.cast("double").as("v")).unionByName(base.select(v.cast("double").as("v")))
      .agg(min(v), max(v)).collect().head
    if (r.isNullAt(0)) None
    else {
      val lo = r.getDouble(0)
      val hi = if (r.getDouble(1) > lo) r.getDouble(1) else lo + 1.0
      val bucket = least(greatest(floor((v - lit(lo)) / lit((hi - lo) / buckets)), lit(0L)),
        lit(buckets - 1L)).as("bucket")
      def side(df: DataFrame, c: Long): DataFrame =
        df.where(v.isNotNull).select(bucket, lit(c).as("n_cur"), lit(1L - c).as("n_base"))
      val all = Window.partitionBy(col("bucket") >= 0)
      val upTo = all.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)
      def cdf(n: String) = try_divide(sum(col(n)).over(upTo), sum(col(n)).over(all))
      val ks = side(cur, 1L).unionByName(side(base, 0L))
        .groupBy(col("bucket")).agg(sum(col("n_cur")).as("n_cur"), sum(col("n_base")).as("n_base"))
        .select(cdf("n_cur").as("cdf_cur"), cdf("n_base").as("cdf_base"))
        .agg(max(abs(col("cdf_cur") - col("cdf_base")))).collect().head
      if (ks.isNullAt(0)) None else Some(ks.getDouble(0))
    }
  }

  /** PSI over two category -> count maps, null as the `None` category:
    * Σ (p−q)·ln(p/q) over the union of categories, each share clamped at 1e-6.
    */
  private def refPsi(cur: Map[Option[String], Long], base: Map[Option[String], Long]): Double = {
    val (nCur, nBase) = (cur.values.sum.toDouble, base.values.sum.toDouble)
    (cur.keySet ++ base.keySet).toSeq.map { c =>
      val p = math.max(cur.getOrElse(c, 0L) / nCur, 1e-6)
      val q = math.max(base.getOrElse(c, 0L) / nBase, 1e-6)
      (p - q) * math.log(p / q)
    }.sum
  }

  test("StatsAgg computes counts, nulls, min/max, and length histogram in one pass") {
    val df = Seq(Some("a"), Some("bb" * 60), None, Some("ccc"), None).toDF("s")
    val row = df.agg(StatsAgg.columnStats($"s").as("st")).select("st.*").collect().head
    assert(row.getAs[Long]("n_rows") == 5)
    assert(row.getAs[Long]("n_nulls") == 2)
    assert(row.getAs[String]("min_s") == "a")
    assert(row.getAs[String]("max_s") == "ccc")
    val hist = row.getAs[Map[Int, Long]]("len_hist")
    assert(hist == Map(0 -> 2L, 1 -> 1L)) // "a","ccc" in [0,100); 120 chars in [100,200)
  }

  test("StatsAgg merges across partitions (values equal to single-partition run)") {
    val df = spark.range(0, 10000, 1, 8)
      .select(when($"id" % 7 === 0, lit(null)).otherwise(concat(lit("v"), $"id")).as("s"))
    val a = df.agg(StatsAgg.columnStats($"s")).collect().head.toString
    val b = df.coalesce(1).agg(StatsAgg.columnStats($"s")).collect().head.toString
    assert(a == b)
  }

  test("custom aggregates reject wrong-typed inputs at analysis time") {
    import org.apache.spark.sql.AnalysisException
    // KmvAgg: a long key must be cast explicitly (the hash domain should be
    // a deliberate choice), never a mid-job ClassCastException
    val longs = spark.range(10)
    intercept[AnalysisException] {
      longs.agg(graft.agg.Kmv.sketch($"id", 64)).collect()
    }
    // TopKAgg: int id widens implicitly; a non-numeric id surfaces as a
    // CLEAR cast error (never an opaque executor ClassCastException)
    val df = Seq((1.0, 1), (2.0, 2)).toDF("s", "i")
    val ok = df.agg(graft.agg.TopKAgg.topK($"s", $"i", 1)).collect()
    assert(ok.head.getSeq[org.apache.spark.sql.Row](0).head.getLong(0) == 2L)
    val e = intercept[Exception] {
      Seq((1.0, "x")).toDF("s", "i")
        .agg(graft.agg.TopKAgg.topK($"s", $"i", 1)).collect()
    }
    assert(!e.isInstanceOf[ClassCastException]
      && e.getMessage.contains("CAST_INVALID_INPUT"), s"got $e")
  }

  test("KMV sketch: split-merge equals single pass, idempotent, duplicate-proof") {
    import graft.agg.{Kmv, KmvBuf}
    val n = 5000
    val vals = (0 until n).map(i => s"value-$i")
    val df = vals.toDF("s").repartition(8)
    val whole = df.agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    // sketch two disjoint halves separately, then merge the BUFFERS: must
    // equal the single-pass sketch byte-for-byte (k smallest of the union)
    val halves = df.withColumn("h", pmod(crc32($"s"), lit(2)))
      .groupBy($"h").agg(Kmv.sketch($"s", 64).as("sk"))
    val merged = halves.agg(Kmv.mergeSketch($"sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged))
    // idempotence: every buffer merged twice changes nothing (the ledger
    // stores one batch's sketch on each of its file rows)
    val merged2 = halves.unionByName(halves).agg(Kmv.mergeSketch($"sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged2))
    // duplicates of the VALUES do not change the sketch either
    val dup3 = (vals ++ vals ++ vals).toDF("s").repartition(8)
      .agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, dup3))
    val buf = KmvBuf.deserialize(whole)
    assert(buf.set.size == 64)
    assert(math.abs(buf.estimate - n) <= 0.3 * n)
    // decode column face agrees with the driver-side deserialization
    val d = df.agg(Kmv.sketch($"s", 64).as("sk"))
      .select(Kmv.decode($"sk").as("d"))
      .select($"d.n_kept", $"d.kth_hash", $"d.estimate").collect().head
    assert(d.getLong(0) == 64 && d.getLong(1) == buf.set.last())
    assert(d.getDouble(2) == buf.estimate)
  }

  test("KMV sketch below k is exact") {
    import graft.agg.{Kmv, KmvBuf}
    val df = (Seq("a", "b", "c") ++ Seq("a", "b")).toDF("s")
    val sk = df.agg(Kmv.sketch($"s", 64)).collect().head.getAs[Array[Byte]](0)
    val buf = KmvBuf.deserialize(sk)
    assert(buf.set.size == 3 && buf.estimate == 3.0)
  }

  test("uniqueness finds duplicated keys and survives an adversarial hot key") {
    // one key with 100k rows across partitions + 10 normal dup keys + uniques
    val hot = spark.range(0, 100000, 1, 16).select(lit("HOT").as("k"))
    val dups = spark.range(10).select(concat(lit("d"), $"id").as("k"))
    val data = hot
      .unionAll(dups).unionAll(dups)
      .unionAll(spark.range(1000).select(concat(lit("u"), $"id").as("k")))
    val dk = Uniqueness.dupKeys(data, col("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dk("HOT") == 100000L)
    assert(dk.size == 11 && dk("d3") == 2L)
    val st = Uniqueness.dupStats(data, col("k")).collect().head
    assert(st.getAs[Long]("n_dup_keys") == 11)
    assert(st.getAs[Long]("n_surplus_rows") == (100000 - 1) + 10)
    // the skew ceiling now rests on Catalyst's PARTIAL hash aggregate (the
    // explicit groupBy(key, partition_id) salt stage was removed in r6 as a
    // redundant second exchange), so pin the guarantee ON dupKeys' OWN
    // executed plan: a partial_count must sit below the exchange — at most
    // one hot-key row per input partition enters the shuffle
    val executed = Uniqueness.dupKeys(data, col("k"))
    executed.collect()
    val nodes = finalPlanNodes(executed)
    val partialAggs = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.aggregateExpressions.exists(e => e.mode == Partial
            && e.aggregateFunction.isInstanceOf[Count]) => h
    }
    assert(partialAggs.nonEmpty,
      s"dupKeys lost its map-side partial aggregation:\n${nodes.mkString("\n")}")
  }

  test("dupStats on all-unique keys returns zeros (not an empty frame)") {
    val st = Uniqueness.dupStats(spark.range(100).toDF("k"), col("k")).collect().head
    assert(st.getLong(0) == 0 && st.getLong(1) == 0)
  }

  test("dupStats on empty input is (0, 0), with non-null long columns") {
    val st = Uniqueness.dupStats(spark.range(0).toDF("k"), col("k"))
    assert(st.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 0L)))
    assert(st.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("n_dup_keys", "bigint", false), ("n_surplus_rows", "bigint", false)))
  }

  test("dupStats runs at most 2 jobs and one hash exchange (AQE on and off)") {
    val data = spark.range(0, 20000, 1, 8).select(($"id" % 7000).as("k"))
    withAndWithoutAqe { aqe =>
      val (jobs, plans) = traced {
        val st = Uniqueness.dupStats(data, col("k")).collect().head
        assert(st.getLong(0) == 7000L && st.getLong(1) == 13000L, s"$aqe: $st")
      }
      assert(jobs <= 2, s"$aqe: $jobs jobs")
      val xs = shuffles(plans)
      assert(xs.size == 1 && xs.head.outputPartitioning.isInstanceOf[HashPartitioning],
        s"$aqe:\n${plans.mkString("\n")}")
    }
  }

  test("dangling broadcasts the dimension keys with no shuffle (AQE on and off)") {
    val fact = spark.range(0, 5000, 1, 4).select(($"id" % 600).as("fk"))
    val dim = spark.range(0, 2000, 1, 4).select(($"id" % 500).as("dk"))
    withAndWithoutAqe { aqe =>
      val (_, plans) = traced {
        assert(Referential.dangling(fact, col("fk"), dim, col("dk")).collect().length == 800)
      }
      assert(plans.exists(_.isInstanceOf[BroadcastExchangeLike]), s"$aqe:\n${plans.mkString("\n")}")
      assert(shuffles(plans).isEmpty, s"$aqe:\n${plans.mkString("\n")}")
    }
  }

  test("dangling with duplicate and null dimension keys equals the distinct-key join") {
    val fact = Seq[Option[Long]](Some(1), Some(2), Some(3), Some(4), None, Some(5), Some(5), Some(7))
      .toDF("fk")
    val dims = Map(
      "duplicates and nulls" -> Seq[Option[Long]](Some(1), Some(1), None, Some(3), Some(3), Some(3),
        None, Some(5)),
      "nulls only" -> Seq[Option[Long]](None, None),
      "empty" -> Nil)
    dims.foreach { case (name, keys) =>
      val dim = keys.toDF("dk").repartition(3)
      def rows(df: DataFrame): Map[Any, Int] =
        df.collect().groupBy(_.get(0)).map { case (k, rs) => k -> rs.length }
      val want = fact.where(col("fk").isNotNull)
        .join(broadcast(dim.select(col("dk").as("_k")).distinct()), col("fk") === col("_k"),
          "left_anti")
      assert(rows(Referential.dangling(fact, col("fk"), dim, col("dk"))) == rows(want), name)
    }
  }

  test("referential: dangling media refs vs broadcast asset catalog") {
    import graft.gen.Synth
    val docs = Synth.corpusDF(spark, 50) // media_ref = asset-(id%1024)
    val catalog = spark.range(40).select(concat(lit("asset-"), $"id").as("asset_id"))
    val dangling = Referential.danglingMediaRefs(docs, catalog, col("asset_id"))
    // ids 40..49 have media_ref asset-40..asset-49, absent from the catalog
    assert(dangling.count() == 10)
    val plan = dangling.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not broadcast:\n$plan")
  }

  test("PSI is ~0 for identical distributions and large for shifted ones") {
    val a = spark.range(1000).select(($"id" % 5).cast("string").as("c"))
    val b = spark.range(1000).select(($"id" % 5).cast("string").as("c"))
    val same = Drift.psi(a, b, col("c")).collect().head.getDouble(0)
    assert(math.abs(same) < 1e-9)
    val shifted = spark.range(1000).select(
      when($"id" % 5 === 0, lit("0")).otherwise(lit("1")).as("c"))
    val drifted = Drift.psi(a, shifted, col("c")).collect().head.getDouble(0)
    assert(drifted > 0.5)
  }

  test("PSI and grouped PSI treat null as one category on both sides") {
    val cur = Seq("x", "y", null, null).toDF("c")
    val moreNulls = (Seq("x", "y") ++ Seq.fill(200)(null: String)).toDF("c")
    def psi(base: DataFrame): Double =
      Drift.psi(cur, base, col("c")).collect().head.getDouble(0)
    assert(psi(cur) == 0.0)
    assert(psi(moreNulls) > 0.5)
    val grouped = Seq(("g1", "x", 1L), ("g1", "y", 1L), ("g1", null, 2L))
      .toDF("g", "cat", "n")
    def psiGrouped(nullBase: Long): Double =
      Drift.psiGrouped(grouped,
        Seq(("x", 1L), ("y", 1L), (null, nullBase)).toDF("cat", "n_base"),
        col("g"), col("cat"), col("n")).collect().head.getDouble(1)
    assert(psiGrouped(2L) == 0.0)
    assert(psiGrouped(200L) > 0.5)
    val ref = refPsi(Map(Some("x") -> 1L, Some("y") -> 1L, None -> 2L),
      Map(Some("x") -> 1L, Some("y") -> 1L, None -> 200L))
    assert(math.abs(psi(moreNulls) - ref) < 1e-12, s"${psi(moreNulls)} vs $ref")
    assert(math.abs(psiGrouped(200L) - ref) < 1e-12, s"${psiGrouped(200L)} vs $ref")
  }

  test("PSI and grouped PSI with an empty side are null, not a division by zero") {
    val cur = Seq("x", "y", "y").toDF("c")
    val empty = cur.limit(0)
    def psi(c: DataFrame, b: DataFrame): Seq[Any] =
      Drift.psi(c, b, col("c")).collect().map(_.get(0)).toSeq
    assert(psi(cur, empty) == Seq(null), "empty baseline")
    assert(psi(empty, cur) == Seq(null), "empty current side")
    assert(psi(empty, empty).isEmpty, "both sides empty")
    // group 2's counts sum to 0: no current shares, so its psi is null too
    val grouped = Seq((1, "x", 5L), (1, "y", 3L), (2, "x", 0L)).toDF("g", "cat", "n")
    val base = Seq(("x", 4L), ("y", 4L)).toDF("cat", "n_base")
    def psiGrouped(g: DataFrame, b: DataFrame): Map[Int, Any] =
      Drift.psiGrouped(g, b, col("g"), col("cat"), col("n"))
        .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(psiGrouped(grouped, base.limit(0)) == Map(1 -> null, 2 -> null), "empty baseline")
    assert(psiGrouped(grouped.limit(0), base).isEmpty, "empty current side")
    val scored = psiGrouped(grouped, base)
    assert(scored(2) == null && scored(1).asInstanceOf[Double] > 0.0, scored)
  }

  test("bucketed KS is 0 for identical and ~shift/range for a uniform shift") {
    val a = spark.range(10000).select(($"id" % 100).cast("double").as("v"))
    val b = spark.range(10000).select((($"id" % 100) + 20).cast("double").as("v"))
    val same = Drift.ksBucketed(a, a, col("v"), 0, 200, 200).collect().head.getDouble(0)
    assert(same == 0.0)
    val ks = Drift.ksBucketed(a, b, col("v"), 0, 200, 200).collect().head.getDouble(0)
    assert(math.abs(ks - 0.2) < 0.01)
  }

  test("auto-ranged KS discovers the true range; fixed-range clipping understates tail drift") {
    // cur: uniform on [0, 100); base: half that, half a far outlier at 1000
    val cur = spark.range(10000).select(($"id" % 100).cast("double").as("v"))
    val base = spark.range(10000).select(
      when($"id" % 2 === 0, ($"id" % 100).cast("double"))
        .otherwise(lit(1000.0)).as("v"))
    // truth: base puts 0.5 of its mass at 1000, so sup|CDF diff| = 0.5
    val auto = Drift.ksAuto(cur, base, col("v"), buckets = 100)
      .collect().head.getDouble(0)
    assert(math.abs(auto - 0.5) < 0.02, s"auto KS $auto != ~0.5")
    // auto equals manual bucketing at the true range
    val manual = Drift.ksBucketed(cur, base, col("v"), 0.0, 1000.0, 100)
      .collect().head.getDouble(0)
    assert(auto == manual)
    // a fixed guess of [0, 100) CLIPS the outliers into the top bucket:
    // they stop being distinguishable from in-range mass and the measured
    // drift drops — the silent failure ksAuto exists to prevent
    val clipped = Drift.ksBucketed(cur, base, col("v"), 0.0, 100.0, 100)
      .collect().head.getDouble(0)
    assert(clipped < auto - 0.009, s"clipped $clipped should understate $auto")
    // degenerate: all-null input -> null ks; constant input -> 0
    val nulls = spark.range(5).select(lit(null).cast("double").as("v"))
    assert(Drift.ksAuto(nulls, nulls, col("v")).collect().head.isNullAt(0))
    val const = spark.range(5).select(lit(7.0).as("v"))
    assert(Drift.ksAuto(const, const, col("v")).collect().head.getDouble(0) == 0.0)
  }

  test("grouped PSI matches scalar PSI per group, incl. vanished/novel categories") {
    val base = Seq(("a", 50L), ("b", 30L), ("c", 20L)).toDF("cat", "n_base")
    val cur = Seq(
      ("g1", "a", 10L), ("g1", "b", 80L), ("g1", "c", 10L), // shifted
      ("g2", "a", 500L), ("g2", "b", 300L), ("g2", "c", 200L), // same mix
      ("g3", "a", 50L), ("g3", "b", 30L), ("g3", "d", 20L)) // novel d, vanished c
      .toDF("g", "cat", "n")
    val got = Drift.psiGrouped(cur, base, col("g"), col("cat"), col("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // plain-Scala reference per group over the count maps
    def counts(rows: (String, Long)*) = rows.map { case (c, n) => Option(c) -> n }.toMap
    val baseCounts = counts("a" -> 50L, "b" -> 30L, "c" -> 20L)
    val curRows = Map(
      "g1" -> counts("a" -> 10L, "b" -> 80L, "c" -> 10L),
      "g2" -> counts("a" -> 500L, "b" -> 300L, "c" -> 200L),
      "g3" -> counts("a" -> 50L, "b" -> 30L, "d" -> 20L))
    curRows.foreach { case (g, rows) =>
      val scalar = refPsi(rows, baseCounts)
      assert(math.abs(got(g) - scalar) < 1e-12, s"$g: ${got(g)} vs $scalar")
    }
    assert(got("g2") == 0.0)          // identical mix -> exactly 0
    assert(got("g3") > 1.0)           // novel + vanished category -> loud
  }

  test("psiGrouped defensively sums duplicated (group, cat) input rows") {
    val base = Seq(("a", 50L), ("b", 50L)).toDF("cat", "n_base")
    val pre = Seq(("g1", "a", 30L), ("g1", "b", 70L)).toDF("g", "cat", "n")
    // the same counts split across duplicate rows — must yield the SAME psi
    val dup = Seq(("g1", "a", 10L), ("g1", "a", 20L),
      ("g1", "b", 40L), ("g1", "b", 30L)).toDF("g", "cat", "n")
    val p1 = Drift.psiGrouped(pre, base, col("g"), col("cat"), col("n"))
      .collect().head.getDouble(1)
    val p2 = Drift.psiGrouped(dup, base, col("g"), col("cat"), col("n"))
      .collect().head.getDouble(1)
    assert(math.abs(p1 - p2) < 1e-12, s"$p1 vs $p2")
  }

  test("ExactQuantile: distributed percentiles equal the brute-force ranks") {
    // deterministic values with heavy ties and a skewed tail — the shapes
    // where FP ceil and tie-group boundaries bite
    val vals = (0 until 997).map(i => ((i * i) % 37).toLong) ++
      Seq(1000L, 1000L, 5000L)
    val df = vals.toDF("v").repartition(16)
    val ps = Seq(1, 50, 90, 99, 100)
    val row = ExactQuantile.percentiles(df, col("v"), ps).collect().head
    assert(row.getLong(0) == vals.size)
    val sorted = vals.sorted
    ps.zipWithIndex.foreach { case (p, i) =>
      val rank = ExactQuantile.rankOf(vals.size, p)
      val expected = sorted((rank - 1).toInt)
      assert(row.getLong(i + 1) == expected, s"p$p: ${row.getLong(i + 1)} vs $expected")
    }
    // integer rank math: n divisible by 100 must NOT shift the rank by one
    // (the double-ceil hazard: ceil(0.9 * 800000) -> 720001 in FP)
    assert(ExactQuantile.rankOf(800000L, 90) == 720000L)
    // nulls excluded; empty input -> n_rows 0, null percentiles
    val empty = ExactQuantile.percentiles(
      Seq.empty[java.lang.Long].toDF("v"), col("v"), Seq(50)).collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("ExactQuantile equals sorted nearest ranks on adversarial inputs") {
    val rnd = new scala.util.Random(7)
    // both signs, both zeros, both infinities, NaN, extremes and nulls: p1
    // lands on -Infinity, p50 on the zeros (as 0.0) and p99 on NaN
    val doubles = Seq.fill(40)(Double.NegativeInfinity) ++ Seq.fill(40)(Double.NaN) ++
      Seq.fill(500)(-0.0) ++ Seq.fill(500)(0.0) ++
      Seq(Double.PositiveInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
        Double.MaxValue, -Double.MaxValue) ++
      Seq.fill(2000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13) - 6))
    assertExactQuantiles((doubles.map(Some(_)) ++ Seq.fill(25)(None)).toDF("v").repartition(8))
    // one value repeated more than 2^16 times: its prefix is refined down to
    // shift 0 (the value itself), while p100 resolves in a narrow prefix
    val (repeatedJobs, _) = traced(assertExactQuantiles(
      spark.range(0, 70100, 1, 8).select(when($"id" < 70000, 7L).otherwise($"id").as("v")),
      Seq(6L, 7L, 8L, 70050L)))
    // values packed into one top prefix, so refinement rounds run: longs of
    // both signs (negatives narrow at once, positives refined twice) and
    // doubles in [1, 1.01) (refined once)
    val (packedJobs, _) = traced {
      assertExactQuantiles(spark.range(0, 200000, 1, 8).select(($"id" * 3 - 100000).as("v")),
        Seq(-100000L, 0L, 299999L, 499997L))
      assertExactQuantiles(spark.range(0, 100000, 1, 8).select((lit(1.0) + $"id" * 1e-7).as("v")))
    }
    // each call collects its input once and, with every target narrow, runs
    // at most 3 jobs; more jobs mean refinement aggregates ran
    assert(repeatedJobs > 1 + 3 && packedJobs > 2 * (1 + 3),
      s"refinement did not run: $repeatedJobs, $packedJobs jobs")
    // an int column comes back as ints, with cut counts over its own values
    val ints = Seq(Int.MinValue, Int.MaxValue, -1, 0, 1) ++ Seq.fill(500)(rnd.nextInt(2001) - 1000)
    assertExactQuantiles((ints.map(Some(_)) :+ None).toDF("v").repartition(4),
      Seq(Int.MinValue.toLong, -1L, 0L, 500L, Int.MaxValue.toLong + 1))
    // nulls only, and empty: n_rows 0, null percentiles, zero cut counts
    assertExactQuantiles(Seq[Option[Long]](None, None).toDF("v"), Seq(0L))
    assertExactQuantiles(Seq.empty[Long].toDF("v"), Seq(0L))
  }

  test("ExactQuantile cut counts need an integral value column") {
    val e = intercept[IllegalArgumentException] {
      ExactQuantile.percentilesWithCuts(Seq(1.5, 2.5).toDF("v"), col("v"), Seq(50), Seq(2L))
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // without cuts a double column is fine; a non-numeric column never is
    assert(ExactQuantile.percentiles(Seq(1.5, 2.5).toDF("v"), col("v"), Seq(50))
      .collect().head.getDouble(1) == 1.5)
    intercept[IllegalArgumentException] {
      ExactQuantile.percentiles(Seq("a").toDF("v"), col("v"), Seq(50))
    }
  }

  test("ExactQuantile runs at most 3 jobs, with no window and no range partitioning") {
    val df = spark.range(0, 20000, 1, 8).select((($"id" * 7919) % 10007).cast("double").as("v"))
    val (jobs, plans) = traced(ExactQuantile.percentiles(df, col("v"), Seq(50, 90, 99)).collect())
    assert(plans.nonEmpty)
    assert(jobs <= 3, s"$jobs jobs")
    assert(!plans.exists(_.isInstanceOf[WindowExec]), plans.mkString("\n"))
    assert(!plans.exists {
      case x: ShuffleExchangeLike => x.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, plans.mkString("\n"))
  }

  test("KS folds: ksBucketed 1 job, ksAuto at most 2, no exchange or window") {
    val a = spark.range(0, 5000, 1, 4).select(($"id" % 100).cast("double").as("v"))
    val b = spark.range(0, 5000, 1, 4).select((($"id" % 100) + 20).cast("double").as("v"))
    withAndWithoutAqe { aqe =>
      for ((name, maxJobs, ks) <- Seq(
          ("ksBucketed", 1, () => Drift.ksBucketed(a, b, col("v"), 0, 200, 200)),
          ("ksAuto", 2, () => Drift.ksAuto(a, b, col("v"), 200)))) {
        val (jobs, plans) = traced(assert(ks().collect().head.getDouble(0) > 0.1))
        assert(plans.exists(_.isInstanceOf[RangeExec]),
          s"$aqe $name: the folds' plans reached no listener")
        assert(jobs <= maxJobs, s"$aqe $name: $jobs jobs")
        val windowOrJoin = plans.exists(p => p.isInstanceOf[WindowExec] || p.isInstanceOf[BaseJoinExec])
        assert(shuffles(plans).isEmpty && !windowOrJoin, s"$aqe $name:\n${plans.mkString("\n")}")
      }
    }
  }

  test("ksAuto matches the Catalyst min/max and window-CDF form on edge values") {
    val rnd = new scala.util.Random(11)
    def frame(vs: Seq[Option[Double]]): DataFrame = vs.toDF("v").repartition(3)
    val nan = Double.NaN
    val (inf, ninf) = (Double.PositiveInfinity, Double.NegativeInfinity)
    val mixed = Seq.fill(1500)(Some((rnd.nextDouble() - 0.3) * 200)) ++ Seq.fill(30)(None)
    val cases = Seq[(String, Seq[Option[Double]], Seq[Option[Double]])](
      ("signed zeros as the min", Seq(-0.0, 1.0, 2.0, 3.0).map(Some(_)),
        Seq(0.0, 2.5, 3.0).map(Some(_))),
      ("NaN as the max", Seq(1.0, 2.0, nan).map(Some(_)), Seq(0.5, 5.0, 0.75).map(Some(_))),
      ("NaN everywhere", Seq(nan, nan).map(Some(_)), Seq(Some(nan), None)),
      ("infinities", Seq(ninf, 1.0, 2.0).map(Some(_)), Seq(3.0, inf).map(Some(_))),
      ("+∞ as the max", Seq(1.0, 2.0, inf).map(Some(_)), Seq(3.0, 4.0).map(Some(_))),
      ("−∞ as the min", Seq(ninf, 2.0, 1.0).map(Some(_)), Seq(3.0, 4.0).map(Some(_))),
      ("mixed with nulls", mixed, mixed.map(_.map(_ * 1.1 + 3)) ++ Seq(Some(-0.0), Some(nan))),
      ("one empty side", mixed, Nil),
      ("one all-null side", mixed, Seq(None, None)),
      ("two all-null sides", Seq(None, None, None), Seq(None)))
    for ((name, c, b) <- cases; (cur, base) <- Seq(c -> b, b -> c); buckets <- Seq(7, 100)) {
      val got = Drift.ksAuto(frame(cur), frame(base), col("v"), buckets).collect().head
      val want = ksAutoCatalyst(frame(cur), frame(base), buckets)
      assert((if (got.isNullAt(0)) None else Some(got.getDouble(0))) == want,
        s"$name, $buckets buckets: $got vs $want")
    }
  }

  test("bucketed KS equals a driver recomputation with one-sided buckets and an all-null side") {
    // cur covers buckets 0-9 only, base 6-19 only; both clamp strays into
    // the end buckets
    val cur = spark.range(0, 3000, 1, 4).select(
      when($"id" % 97 === 0, lit(-5.0)).otherwise(($"id" % 50).cast("double")).as("v"))
    val base = spark.range(0, 2000, 1, 4).select(
      when($"id" % 89 === 0, lit(250.0)).otherwise(($"id" % 70 + 30).cast("double") + 0.5).as("v"))
    val nulls = spark.range(0, 100, 1, 2).select(lit(null).cast("double").as("v"))
    for ((c, b) <- Seq(cur -> base, base -> cur, cur -> nulls, nulls -> base, nulls -> nulls)) {
      val got = Drift.ksBucketed(c, b, col("v"), 0.0, 100.0, 20).collect().head
      val want = ksDriver(c, b, 0.0, 100.0, 20)
      assert((if (got.isNullAt(0)) None else Some(got.getDouble(0))) == want, s"$got vs $want")
    }
    assert(ksDriver(cur, base, 0.0, 100.0, 20).exists(_ > 0.5))
  }

  test("kind frequencies over the synthetic corpus") {
    import graft.gen.Synth
    val kf = Drift.kindFrequencies(Synth.corpusDF(spark, 90)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kf("LDR") == 90)
    assert(kf("media") == 90)
    assert(kf("008") == 90)
    assert(kf("001") == 90 + 10) // class-1 docs carry a duplicate 001
  }
}
