package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.StatsAgg
import graft.checks.{Drift, ExactQuantile, Referential, Uniqueness}

final case class PartRow(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
    p_size: Int, p_retailprice: Double)

final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
    value: Double, props: String)

/** Cross-row checks and aggregates over lineitem / part / events tables
  * shaped like the repo's testdata tables, plus a hot order key: exchanges,
  * skew and the range-partitioned quantile pass dominate. Every result is
  * compared with a plain Scala recomputation over the same generated rows.
  *
  * Row counts and value ranges follow the testdata generator's scale
  * factor (lineitem 6 M x sf, part 200 k x sf, events 1 M x sf); the
  * column distributions were measured on its sf0.1 and sf0.01 tables and
  * are listed in perfbench/README.md. Two departures are deliberate: one
  * order key is hot, and the part table leaves out a few keys, so the
  * uniqueness and referential checks have rows to find.
  */
object TableChecks extends Workload {
  val name = "table_checks"
  /** Scale factor of the generated tables (sf0.01: 60 k lineitem rows). */
  val Scale = 0.01
  val Lines: Int = (6000000 * Scale).toInt
  val OrderKeys: Int = (1500000 * Scale).toInt
  val Parts: Int = (200000 * Scale).toInt
  val Suppliers: Int = (10000 * Scale).toInt
  val Events: Int = (1000000 * Scale).toInt
  val Users: Int = (15000 * Scale).toInt
  /** Share of lineitem rows whose order key is replaced by the one hot key. */
  val HotShare = 0.05
  /** Share of part keys left out of the part table, so lines dangle. */
  val MissingPartShare = 0.01
  val Percents = Seq(50, 90, 99)
  val KsBuckets = 100

  private val Adjectives = Array("red", "small", "hot", "cold", "old", "new", "large", "blue")
  private val Nouns = Array("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
  private val PartTypes = Array("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
  private val ReturnFlags = Array("A", "N", "R")
  private val EventTypes = Array("view", "click", "signup", "purchase", "error")
  private val ShipDays = 2498 // 1995-01-02 .. 2001-11-04
  private val ShipStart = Timestamp.valueOf("1995-01-02 00:00:00").getTime
  private val EventStart = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val EventSpanMs = 30L * 86400000L
  private val EventMeanValue = 50.0

  final case class Tables(parts: Seq[PartRow], lines: Seq[LineRow], events: Seq[EventRow])

  def generate(seed: Long): Tables = {
    val r = new SplittableRandom(seed)
    def cents(x: Double): Double = math.round(x * 100) / 100.0
    def pick(xs: Array[String]): String = xs(r.nextInt(xs.length))
    val parts = (0 until Parts).filter(_ => r.nextDouble() >= MissingPartShare).map { k =>
      PartRow(k.toLong, s"${pick(Adjectives)} ${pick(Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(PartTypes), 1 + r.nextInt(50), 900 + (k % 1000) / 10.0)
    }
    val hot = r.nextInt(OrderKeys).toLong
    val lines = (0 until Lines).map { _ =>
      val order = r.nextInt(OrderKeys).toLong
      LineRow(if (r.nextDouble() < HotShare) hot else order, r.nextInt(Parts).toLong,
        r.nextInt(Suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        cents(900 + r.nextDouble() * 104100), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(ReturnFlags), if (r.nextBoolean()) "F" else "O",
        new Timestamp(ShipStart + r.nextInt(ShipDays) * 86400000L))
    }
    // exponential gaps: a Poisson stream over 30 days
    var micros = EventStart * 1000L
    val events = (0 until Events).map { i =>
      micros += (-math.log(1 - r.nextDouble()) * EventSpanMs * 1000.0 / Events).toLong
      val ts = new Timestamp(micros / 1000)
      ts.setNanos(((micros % 1000000) * 1000).toInt)
      EventRow(i.toLong, ts, r.nextInt(Users).toLong, pick(EventTypes),
        cents(-math.log(1 - r.nextDouble()) * EventMeanValue), s"""{"k": ${r.nextInt(100)}}""")
    }
    Tables(parts, lines, events)
  }

  final case class Expected(dupKeys: Long, surplusRows: Long, danglingLines: Long,
      unreferencedParts: Long, percentiles: Seq[Double], statsRows: Long, statsNulls: Long,
      statsMin: String, statsMax: String, lengthHist: Map[Int, Long], ks: Double)

  /** The same results, computed directly over the generated rows. */
  def expected(t: Tables): Expected = {
    val perKey = t.lines.groupMapReduce(_.l_orderkey)(_ => 1L)(_ + _)
    val dups = perKey.values.filter(_ > 1)
    val partKeys = t.parts.map(_.p_partkey).toSet
    val usedParts = t.lines.map(_.l_partkey).toSet
    val prices = t.lines.map(_.l_extendedprice).sorted
    val n = prices.size
    // nearest rank: the smallest value with at least p% of the rows at or below it
    def nearestRank(p: Int): Double = prices(math.ceil(n * p / 100.0).toInt - 1)
    val flags = t.lines.map(_.l_returnflag).filter(_ != null)
    val values = t.events.map(_.value)
    val lo = values.min
    val hi = if (values.max > lo) values.max else lo + 1.0
    def bucket(v: Double): Long = math.min(math.max(
      math.floor((v - lo) / ((hi - lo) / KsBuckets)).toLong, 0L), KsBuckets - 1L)
    def hist(even: Boolean): Map[Long, Long] = t.events
      .filter(e => (e.event_id % 2 == 0) == even).groupMapReduce(e => bucket(e.value))(_ => 1L)(_ + _)
    val (cur, base) = (hist(even = true), hist(even = false))
    val buckets = (cur.keySet ++ base.keySet).toSeq.sorted
    def cdf(h: Map[Long, Long]): Seq[Double] = {
      val total = h.values.sum.toDouble
      buckets.scanLeft(0L)((acc, b) => acc + h.getOrElse(b, 0L)).tail.map(_ / total)
    }
    Expected(
      dupKeys = dups.size.toLong,
      surplusRows = dups.map(_ - 1).sum,
      danglingLines = t.lines.count(l => !partKeys.contains(l.l_partkey)).toLong,
      unreferencedParts = t.parts.count(p => !usedParts.contains(p.p_partkey)).toLong,
      percentiles = Percents.map(nearestRank),
      statsRows = t.lines.size.toLong,
      statsNulls = (t.lines.size - flags.size).toLong,
      statsMin = flags.min,
      statsMax = flags.max,
      lengthHist = flags.groupMapReduce(c =>
        math.min(c.length / StatsAgg.BucketWidth, StatsAgg.NumBuckets - 1))(_ => 1L)(_ + _),
      ks = cdf(cur).zip(cdf(base)).map { case (a, b) => math.abs(a - b) }.max)
  }

  def setup(spark: SparkSession, seed: Long, dir: String, cores: Int): Prepared = {
    import spark.implicits._
    val tables = generate(seed)
    val exp = expected(tables)
    tables.parts.toDF().write.parquet(s"$dir/part")
    tables.lines.toDF().write.parquet(s"$dir/lineitem")
    tables.events.toDF().write.parquet(s"$dir/events")
    val rows = Seq("part", "lineitem", "events").map(t => spark.read.parquet(s"$dir/$t").count())
    new Prepared {
      final case class Result(dupStats: Row, dangling: (Long, Long), percentiles: Row, ks: Row,
          stats: Row)
      type Out = Result
      val records: Long = rows.sum
      val fingerprint: String = {
        val sample = Iterator(tables.parts, tables.lines, tables.events)
          .flatMap(_.iterator.grouped(256).map(_.head))
        s"rows=${rows.mkString("+")};sample=${Workload.sampleHash(sample)}"
      }

      def run(tr: Tracer, iter: Int): Out = {
        val li = spark.read.parquet(s"$dir/lineitem")
        val part = spark.read.parquet(s"$dir/part")
        val ev = spark.read.parquet(s"$dir/events")
        val dupStats = tr.span("uniqueness") {
          Uniqueness.dupStats(li, col("l_orderkey")).collect().head
        }
        val dangling = tr.span("referential") {
          (Referential.dangling(li, col("l_partkey"), part, col("p_partkey")).count(),
            Referential.dangling(part, col("p_partkey"), li, col("l_partkey")).count())
        }
        val percentiles = tr.span("quantiles") {
          ExactQuantile.percentiles(li, col("l_extendedprice"), Percents).collect().head
        }
        val ks = tr.span("drift_ks") {
          Drift.ksAuto(ev.where(col("event_id") % 2 === 0), ev.where(col("event_id") % 2 === 1),
            col("value"), buckets = KsBuckets).collect().head
        }
        val stats = tr.span("col_stats") {
          li.agg(StatsAgg.columnStats(col("l_returnflag")).as("st")).select("st.*").collect().head
        }
        Result(dupStats, dangling, percentiles, ks, stats)
      }

      def check(out: Out): Seq[String] = {
        Workload.mismatch("dup keys", out.dupStats.getLong(0), exp.dupKeys) ++
          Workload.mismatch("surplus rows", out.dupStats.getLong(1), exp.surplusRows) ++
          Workload.mismatch("dangling lineitem part keys", out.dangling._1, exp.danglingLines) ++
          Workload.mismatch("unreferenced parts", out.dangling._2, exp.unreferencedParts) ++
          Workload.mismatch("quantile rows", out.percentiles.getLong(0), exp.statsRows) ++
          Workload.mismatch("percentiles", Percents.indices.map(i => out.percentiles.getDouble(i + 1)),
            exp.percentiles) ++
          (if (math.abs(out.ks.getDouble(0) - exp.ks) <= 1e-12) Nil
           else Seq(s"ks: got ${out.ks.getDouble(0)}, expected ${exp.ks}")) ++
          Workload.mismatch("stats rows", out.stats.getLong(0), exp.statsRows) ++
          Workload.mismatch("stats nulls", out.stats.getLong(1), exp.statsNulls) ++
          Workload.mismatch("stats min", out.stats.getString(2), exp.statsMin) ++
          Workload.mismatch("stats max", out.stats.getString(3), exp.statsMax) ++
          Workload.mismatch("length histogram", out.stats.getMap[Int, Long](4).toMap, exp.lengthHist)
      }

      def layers(tr: Tracer, out: Out): Seq[(String, Metric)] = {
        def s(op: String): Metric = Metric(Workload.median(tr.seconds(op)), "s", tr.seconds(op).size)
        Seq(
          "checks.uniqueness_s" -> s("uniqueness"),
          "checks.referential_s" -> s("referential"),
          "checks.quantiles_s" -> s("quantiles"),
          "checks.drift_ks_s" -> s("drift_ks"),
          "agg.col_stats_s" -> s("col_stats"))
      }

      override def sparkOps: Seq[String] =
        Seq("uniqueness", "referential", "quantiles", "drift_ks", "col_stats")
    }
  }
}
