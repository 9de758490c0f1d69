package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SketchExprs.simhash64
import graft.ops.Dedup

/** Property tests pinning the dedup operators to in-memory brute-force
  * oracles over generated corpora (deterministic seeds — the scalatestplus
  * bridge is not on the offline classpath, so sampling is explicit).
  *
  * These cover what the fixed-corpus specs cannot: arbitrary thresholds
  * (incl. ones where threshold*len is exactly integral — the prefix-filter
  * FP-rounding hazard), arbitrary duplicate/near-dup mixes, and arbitrary
  * graph shapes for cluster resolution.
  */
class DedupPropertySpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  // mirrors Dedup.shingles column semantics exactly (lower/trim/\s+ split,
  // n-gram distinct, whole-text fallback under n tokens)
  private def shinglesOf(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  private def jac(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a ++ b).size

  // small vocab so near-dups and exact dups occur often
  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta")
  private val docGen: Gen[String] =
    Gen.choose(1, 12).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
  private def corpusGen(maxDocs: Int): Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(4, maxDocs)
    texts <- Gen.listOfN(n, docGen)
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def sample[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  test("property: ngramJaccardPairs is EXACT for arbitrary thresholds") {
    // includes thresholds where threshold*len is integral for common lens
    // (0.5, 0.75, 0.8): the ceil-rounding hazard the 1e-9 epsilon guards
    val thresholds = Seq(0.5, 0.6, 2.0 / 3, 0.7, 0.75, 0.8, 0.9)
    (0 until 12).foreach { i =>
      val corpus = sample(corpusGen(24), 1000L + i)
      val threshold = thresholds(i % thresholds.length)
      val sh = corpus.map { case (id, t) => id -> shinglesOf(t) }.toMap
      val expected = (for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        j = jac(sa, sb) if j >= threshold
      } yield (a, b)).toSet
      val got = Dedup.ngramJaccardPairs(corpus.toDF("id", "t"), $"id", $"t",
          threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=${1000 + i} t=$threshold missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("property: minhashPairs reports only true pairs, with exact jaccard") {
    // minhash recall is probabilistic; PRECISION is exact by construction
    // (one-scan verify) — every reported pair must be a true >=threshold
    // pair with the brute-force jaccard value
    (0 until 8).foreach { i =>
      val corpus = sample(corpusGen(24), 2000L + i)
      val threshold = Seq(0.6, 0.7, 0.8)(i % 3)
      val sh = corpus.map { case (id, t) => id -> shinglesOf(t) }.toMap
      val rows = Dedup.minhashPairs(corpus.toDF("id", "t"), $"id", $"t",
          threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      rows.foreach { case (a, b, j) =>
        val truth = jac(sh(a), sh(b))
        assert(truth >= threshold, s"false positive ($a,$b): true jac $truth")
        assert(math.abs(truth - j) < 1e-12, s"jaccard mismatch ($a,$b)")
      }
    }
  }

  test("property: simhashPairs matches the brute-force hamming-radius truth") {
    // with buckets under the cap, Manku-block recall is exact by pigeonhole:
    // the emitted pair set must EQUAL all-pairs hamming <= maxHamming
    (0 until 6).foreach { i =>
      val corpus = sample(corpusGen(20), 3000L + i)
      val maxH = 2 + (i % 3) // 2..4
      val df = corpus.toDF("id", "t")
      val sigs = df.select($"id", simhash64(Dedup.tokens($"t")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        (a, sa) <- sigs; (b, sb) <- sigs if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (a, b, h)).toSet
      val got = Dedup.simhashPairs(df, $"id", $"t", maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected,
        s"seed=${3000 + i} maxH=$maxH missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("adversarial skew: lineDedup survives one line duplicated 10^6 times") {
    // 100k docs x (10 copies of one hot boilerplate line + 1 unique line):
    // a window-over-line implementation would funnel all 10^6 hot rows into
    // ONE task; the partial-aggregated min(struct) winner must instead
    // combine map-side, and the reassembly stays per-doc bounded
    val nDocs = 100000L
    val hotPerDoc = 10
    val hot = "REPEATED BOILERPLATE NAVIGATION LINE COMMON TO EVERY DOCUMENT"
    val docs = spark.range(nDocs).select(
      col("id"),
      concat_ws("\n",
        flatten(array(
          array_repeat(lit(hot), hotPerDoc),
          array(concat(lit("unique payload line for document "), col("id")))))).as("t"))

    // track the single-task blowup directly: max shuffle records read by
    // any one task across the whole job
    val maxTaskRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val rec = m.shuffleReadMetrics.recordsRead
          var prev = maxTaskRead.get()
          while (rec > prev && !maxTaskRead.compareAndSet(prev, rec))
            prev = maxTaskRead.get()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val o = Dedup.lineDedup(docs, col("id"), col("t"))
          .select(col("id"), col("n_kept"), col("n_dropped"), col("text_clean"))
          .collect()
        // listener events are delivered async; poll until the max is stable
        var last = -1L
        var stable = 0
        var waited = 0
        while (stable < 5 && waited < 50) {
          Thread.sleep(200); waited += 1
          val cur = maxTaskRead.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        o
      } finally spark.sparkContext.removeSparkListener(listener)

    // correctness under the flood: every doc keeps its unique line; only
    // the global first occurrence (doc 0, idx 0) keeps the hot line
    assert(out.length == nDocs)
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId(0L) == ((2L, hotPerDoc - 1L,
      hot + "\nunique payload line for document 0")))
    assert(byId(1L) == ((1L, hotPerDoc.toLong, "unique payload line for document 1")))
    assert(out.map(_.getLong(2)).sum == nDocs * hotPerDoc - 1)
    // reassembly per-doc bounded: no doc accumulates the flood
    assert(out.map(_.getLong(1)).max == 2L)

    // no single-partition blowup: the hot line's 10^6 occurrences must
    // never land un-combined in one task (a window plan reads >= 10^6
    // records in a single task; allow half that as the failure line)
    val maxRead = maxTaskRead.get()
    assert(maxRead > 0, "listener captured no shuffle metrics")
    assert(maxRead < nDocs * hotPerDoc / 2,
      s"single task read $maxRead shuffle records — hot key not combined/split")
  }

  test("adversarial length: lineDedupIntra's per-line rate holds at 20 000-line docs") {
    // the same 200 000 lines as 2 000 docs of 100 lines and as 10 docs of
    // 20 000 lines, half of each doc's lines repeated within the doc; a
    // per-line rescan of the doc (or an optimizer rewrite that undoes
    // bindOnce and re-splits the text per line) is quadratic in doc length
    // and drops the long-doc rate by far more than 10x
    val totalLines = 200000
    def rate(linesPerDoc: Int): Double = {
      val docs = spark.range(totalLines / linesPerDoc).select(col("id"),
        concat_ws("\n", transform(sequence(lit(0), lit(linesPerDoc - 1)),
          i => concat(lit("line-content-"), col("id") % 1000, lit("-"),
            pmod(i, lit(linesPerDoc / 2))))).as("text"))
        .localCheckpoint() // generation stays out of the timing
      def run(): Double = {
        val t0 = System.nanoTime()
        val dropped = Dedup.lineDedupIntra(docs, col("id"), col("text"))
          .agg(sum(col("n_dropped"))).as[Long].collect().head
        assert(dropped == totalLines / 2)
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm-up
      totalLines / Seq.fill(3)(run()).min
    }
    val (short, long) = (rate(100), rate(20000))
    assert(long * 10 >= short, f"$long%.0f lines/s at 20 000 lines vs $short%.0f at 100")
  }

  test("property: dupClusters equals union-find on arbitrary edge lists") {
    val edgeGen = for {
      n <- Gen.choose(1, 25)
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 18L); b <- Gen.choose(0L, 18L) if a != b
      } yield (a, b))
    } yield edges
    (0 until 6).foreach { i =>
      val edges = sample(edgeGen, 4000L + i)
      // driver-side union-find oracle with min-label canonicalization
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val minOf = nodes.groupBy(find).flatMap { case (_, ms) =>
        ms.map(_ -> ms.min)
      }
      val got = Dedup.dupClusters(edges.toDF("a", "b"), maxIters = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == minOf, s"seed=${4000 + i} edges=$edges")
    }
  }
}
