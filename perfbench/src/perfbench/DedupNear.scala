package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** One row of the generated documents table (the testdata `documents` shape). */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Near-duplicate removal over a documents table with planted copies in a
  * skewed group-size mix: many pairs, some mid-size groups, and a group
  * larger than the 256-member cap of `maxBucket` / `maxFlatGroup`. Shuffle,
  * skew and repeated scans dominate; the validator is not touched.
  */
object DedupNear extends Workload {
  val name = "dedup_near"
  /** Base docs, planted copies, and groups above the 256 cap of
    * `minhashPairs.maxBucket` and `ngramJaccardPairs.maxFlatGroup`.
    */
  final case class Sizes(baseDocs: Int, plantedCopies: Int, bigGroups: Int)
  val Full = Sizes(baseDocs = 500, plantedCopies = 500, bigGroups = 1)
  /** Inputs of the warm-up iteration in another workload's traced run: the
    * same plans and code paths without the big group, whose pairs make up
    * most of an iteration's time.
    */
  val WarmUp = Sizes(baseDocs = 100, plantedCopies = 100, bigGroups = 0)
  val BigGroupCopies = 257
  /** Copies per group after the big ones, cycled: mostly pairs, some mid-size groups. */
  val SmallGroupCopies = Seq(1, 1, 2, 1, 1, 3, 1, 2, 1, 5, 1, 1, 2, 1, 10)
  val MaxBucket = 256
  /** Copies of one base share a text in families of at most this many, so
    * a family fits under the cap and stays linked to its base through the
    * capped bucket's lowest ids.
    */
  val FamilySize = 90
  /** Words appended to a base to make a copy: with bases of 60 to 120
    * words, a copy keeps a 3-shingle Jaccard of at least 58/68 with its base.
    */
  val SuffixWords = 10
  val CopyIdBase = 1000000L

  private val Vocab = ("spark line column order small sort fast value scan hash slow group " +
    "batch agg filter query key window big part stream merge table row data join vector " +
    "customer the a index page shelf record title author note field leaf tree node edge " +
    "graph cache shard block").split(" ")
  private val Langs = Array("en", "fr", "zh")

  final case class Input(docs: Seq[DocRow], baseDocs: Int, copies: Long)

  def generate(seed: Long, sz: Sizes = Full): Input = {
    val r = new SplittableRandom(seed)
    def words(k: Int): String = Array.fill(k)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    val base = (0 until sz.baseDocs).map { i =>
      val t = words(60 + r.nextInt(61))
      DocRow(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 50}", t.length.toLong)
    }
    // the group sizes are the same for every seed, so seeds differ in text
    // only and not in how much pair work they plant
    val sizes = scala.collection.mutable.ArrayBuffer.fill(sz.bigGroups)(BigGroupCopies)
    while (sizes.sum < sz.plantedCopies) sizes += SmallGroupCopies(sizes.size % SmallGroupCopies.length)
    require(sizes.size <= sz.baseDocs, "more groups than base docs")
    // Fisher-Yates pick of the base doc of each group
    val order = Array.tabulate(sz.baseDocs)(identity)
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    var nextId = CopyIdBase
    val copies = sizes.zipWithIndex.flatMap { case (size, g) =>
      val b = base(order(g))
      val suffixes = Array.fill((size + FamilySize - 1) / FamilySize)(words(SuffixWords))
      // ids interleave the families, so the lowest ids of a capped bucket hold all of them
      (0 until size).map { j =>
        val t = b.text + " " + suffixes(j % suffixes.length)
        val row = DocRow(nextId, t, b.lang, b.source, t.length.toLong)
        nextId += 1
        row
      }
    }
    Input(base ++ copies, sz.baseDocs, copies.size.toLong)
  }

  def setup(spark: SparkSession, seed: Long, dir: String, cores: Int): Prepared =
    prepare(spark, generate(seed), dir, cores)

  override def warmUpSetup(spark: SparkSession, seed: Long, dir: String, cores: Int): Option[Prepared] =
    Some(prepare(spark, generate(seed, WarmUp), dir, cores))

  private def prepare(spark: SparkSession, input: Input, dir: String, cores: Int): Prepared = {
    import spark.implicits._
    val path = s"$dir/documents"
    // one file, like the testdata documents table; the operators fan the
    // signature stage out themselves (inputPartitions)
    input.docs.toDF().coalesce(1).write.parquet(path)
    val rows = spark.read.parquet(path).count()
    new Prepared {
      final case class Result(pairs: Array[(Long, Long)], pairsDf: DataFrame,
          ngram: Array[(Long, Long)], kept: Array[Long], simhash: Row)
      type Out = Result
      val records: Long = input.docs.size.toLong
      val fingerprint: String =
        s"rows=$rows;sample=${Workload.sampleHash(input.docs.iterator.grouped(64).map(_.head))}"
      private var simhashPairs = -1L

      def run(tr: Tracer, iter: Int): Out = {
        val docs = spark.read.parquet(path)
        def collectPairs(df: DataFrame): Array[(Long, Long)] =
          df.select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1)))
        val pairs = tr.span("minhash_pairs") {
          collectPairs(Dedup.minhashPairs(docs, col("doc_id"), col("text"), threshold = 0.8,
            inputPartitions = cores))
        }
        // the pair list is handed on as a local relation, so keep-one's time
        // does not include recomputing the minhash pairs
        val pairsDf = pairs.toSeq.toDF("a", "b")
        val kept = tr.span("keep_one") {
          Dedup.keepOnePerCluster(docs, col("doc_id"), pairsDf)
            .select(col("doc_id")).collect().map(_.getLong(0))
        }
        val ngram = tr.span("ngram_pairs") {
          collectPairs(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), threshold = 0.8))
        }
        val simhash = tr.span("simhash_pairs") {
          Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 4,
              inputPartitions = cores)
            .agg(count(lit(1)), coalesce(max(col("hamming")).cast("int"), lit(0)),
              count(when(col("a") >= col("b"), 1)))
            .collect().head
        }
        Result(pairs, pairsDf, ngram, kept, simhash)
      }

      def check(out: Out): Seq[String] = {
        val kept = out.kept.toSet
        val lostBase = (0L until input.baseDocs.toLong).count(id => !kept.contains(id))
        val keptCopies = kept.count(_ >= CopyIdBase)
        val ngram = out.ngram.toSet
        val notInNgram = out.pairs.count(p => !ngram.contains(p)).toLong
        val plantedInNgram = out.ngram.count { case (a, b) => a < CopyIdBase && b >= CopyIdBase }
        val simCount = out.simhash.getLong(0)
        if (simhashPairs < 0) simhashPairs = simCount
        Seq(
          lostBase -> s"$lostBase base docs removed by keep-one",
          keptCopies.toLong -> s"$keptCopies planted copies survived keep-one",
          notInNgram -> s"$notInNgram minhash pairs missing from the exact ngram pairs",
          (input.copies - plantedInNgram) -> s"ngram pairs hold $plantedInNgram base-copy pairs, expected ${input.copies}",
          (if (out.simhash.getInt(1) > 4) 1L else 0L) -> s"simhash pair above hamming 4",
          out.simhash.getLong(2) -> "simhash pair with a >= b",
          (simCount - simhashPairs) -> s"simhash pairs $simCount differ from the first iteration's $simhashPairs"
        ).collect { case (bad, msg) if bad != 0 => msg }
      }

      def layers(tr: Tracer, out: Out): Seq[(String, Metric)] = {
        val docs = spark.read.parquet(path)
        tr.span("dup_clusters") { Dedup.dupClusters(out.pairsDf).count() }
        val buckets = tr.span("bucket_stats") {
          Dedup.minhashBucketStats(docs, col("doc_id"), col("text"), minSize = MaxBucket + 1L)
            .collect().map(_.getLong(2))
        }
        def pairsOf(n: Long): Long = n * (n - 1) / 2
        val dropped = buckets.map(n => pairsOf(n) - pairsOf(MaxBucket)).sum
        def s(op: String): Metric = Metric(Workload.median(tr.seconds(op)), "s", tr.seconds(op).size)
        Seq(
          "ops.minhash_pairs_s" -> s("minhash_pairs"),
          "ops.dup_clusters_s" -> s("dup_clusters"),
          "ops.keep_one_s" -> s("keep_one"),
          "ops.ngram_pairs_s" -> s("ngram_pairs"),
          "ops.simhash_pairs_s" -> s("simhash_pairs"),
          "ops.verified_pairs" -> Metric(out.pairs.length.toDouble, "count"),
          "ops.bucket_pairs_dropped" -> Metric(dropped.toDouble, "count", buckets.length))
      }

      override def sparkOps: Seq[String] =
        Seq("minhash_pairs", "dup_clusters", "keep_one", "ngram_pairs", "simhash_pairs")
    }
  }
}
