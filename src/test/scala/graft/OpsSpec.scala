package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SketchExprs._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Dedup suite, ANN similarity, and text-analysis operators. */
class OpsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup finds injected duplicate texts") {
    val withDups = docs.unionByName(docs.where($"doc_id" % 10 === 0))
    val groups = Dedup.exactDupGroups(withDups, $"text")
    assert(groups.count() == 50) // 500 ids, every 10th duplicated once
    assert(groups.agg(sum($"n")).collect().head.getLong(0) == 100)
    assert(Dedup.exactDupGroups(docs, $"text").count() == 0)
  }

  test("exact dedup resolves hash collisions instead of dropping groups") {
    // a degenerate 2-bucket hash forces every key to collide: real duplicate
    // groups inside collided buckets must still be reported exactly
    val df = Seq("aa", "aa", "bb", "cc", "cc", "cc", "dd").toDF("text")
    val groups = Dedup.exactDupGroupsWithHash(df, $"text", k => length(k) % 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(groups == Map("aa" -> 2L, "cc" -> 3L))
  }

  test("dupClusters resolves transitive chains into min-labeled components") {
    // chain 1-2-3, pair 10-11, triangle 20-21-22, long chain 30..45
    // (the 16-link chain exercises pointer doubling: O(log d) rounds)
    val chain = (30L until 45L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)) ++ chain).toDF("a", "b")
    val out = Dedup.dupClusters(pairs, maxIters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L) ++
      (30L to 45L).map(_ -> 30L).toMap
    assert(out == expected)
  }

  test("keepOnePerCluster keeps the min-id member and untouched docs") {
    // clusters {1,2,3} (chain) and {10,11}; 5 and 7 appear in no pair
    val docs = Seq((1L, "d1"), (2L, "d2"), (3L, "d3"), (5L, "d5"), (7L, "d7"),
      (10L, "d10"), (11L, "d11")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.keepOnePerCluster(docs, $"doc_id", pairs, maxIters = 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(kept == Map(1L -> "d1", 5L -> "d5", 7L -> "d7", 10L -> "d10"))
  }

  test("wordpiece stats: greedy longest-match counts pinned against a hand trace") {
    // reference values traced by hand/offline against the same vocabulary:
    // e.g. "running" -> run|n|ing? no: greedy at r: 'ro'/'ra'? no ->
    // r|un|n|ing = 4 pieces (un and ing are vocab entries)
    val df = Seq(
      (1L, "The runner was running and jumping nationally"),
      (2L, "consideration of the preexisting settlement"),
      (3L, "xyzzy qqq"),
      (4L, "a"),
      (5L, "123 ... !!"), // no letters: zero words, zero pieces
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = df.where($"text".isNotNull)
      .select($"doc_id", TextAnalysis.subwordStats($"text").as("w"))
      .select($"doc_id", $"w.n_words", $"w.n_pieces")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(out == Map(1L -> ((7, 23)), 2L -> ((5, 22)), 3L -> ((2, 8)),
      4L -> ((1, 1)), 5L -> ((0, 0))))
    // null text -> null struct through the expression itself
    val nulls = df.select(TextAnalysis.subwordStats($"text").as("w"))
      .where($"w".isNull).count()
    assert(nulls == 1)
  }

  test("langIdNgram labels all five profile languages and falls back to und") {
    val rows = TextAnalysis.LangSnippets.map { case (lang, s) => (lang, s) } :+
      (("und", "zzz qqq 12345"))
    val out = rows.toDF("expected", "t")
      .select($"expected", TextAnalysis.langIdNgram($"t").as("got"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    out.foreach { case (expected, got) => assert(got == expected, s"snippet for $expected") }
  }

  test("minhashBandKeys kernel matches the xxhash64-over-slice SQL formulation") {
    // the r6 optimization fused the 32 xxhash64(lit(b), slice(sig, ...))
    // columns into one kernel; band keys feed bucket membership (and the
    // deterministic maxBucket cap), so they must be BIT-identical
    import graft.expr.SketchExprs
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"text".isNotNull)
    val (bands, rows) = (32, 2)
    val withSig = docs.select(
      SketchExprs.minhashSig(Dedup.shingles($"text"), 64).as("sig"))
    val diff = withSig.select(
        SketchExprs.minhashBandKeys($"sig", bands, rows).as("a"),
        array((0 until bands).map(b =>
          xxhash64(lit(b), slice($"sig", b * rows + 1, rows))): _*).as("b"))
      .where(not($"a" <=> $"b")).count()
    assert(diff == 0)
  }

  test("hyperplane plane-table kernel equals the in-loop weight derivation") {
    // the plane table precomputes Mix64 weights once per expression; the
    // band keys (and every persisted LSH key) must match the formulation
    // that derives two Mix64 calls per multiply-add, bit for bit
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expr.{Mix64, SketchKernels}
    def inLoopBands(vec: GenericArrayData, bands: Int, rows: Int, dims: Int): Array[Long] =
      Array.tabulate(bands) { b =>
        val key = (0 until rows).foldLeft(0L) { (k, r) =>
          val planeSeed = Mix64.mix((b * rows + r).toLong)
          val dot = (0 until dims).map(d => vec.getFloat(d).toDouble *
            (Mix64.mix(planeSeed ^ Mix64.mix(d.toLong)).toDouble / 9.223372036854776e18)).sum
          (k << 1) | (if (dot >= 0) 1L else 0L)
        }
        Mix64.mix(Mix64.mix(b.toLong) ^ key)
      }
    for ((bands, rows, dims) <- Seq((16, 16, 64), (4, 3, 7))) {
      val planes = SketchKernels.planes(bands, rows, dims)
      (0 until 16).foreach { i =>
        val v = new GenericArrayData(Array.tabulate(dims)(d =>
          (Mix64.mix(i.toLong * 65537 + d).toDouble / 9.2e18).toFloat))
        val table = SketchKernels.hyperplaneBands(v, bands, rows, dims, true, planes)
          .asInstanceOf[GenericArrayData].toLongArray()
        assert(table.sameElements(inLoopBands(v, bands, rows, dims)),
          s"vector $i at $bands x $rows x $dims")
      }
    }
  }

  test("langIdNgram kernel is value-identical to the replace()-count column formulation") {
    // the r6 optimization fused the per-gram replace()-count columns into
    // one kernel; this pins the kernel row-for-row against the original
    // formulation (per language the sum of each gram's non-overlapping
    // replace() count, the greatest (score, lang) wins, zero signal or null
    // -> "und"), computed in plain Scala over the collected rows of the real
    // corpus derivation (snippet + text slice, all five languages), plus
    // null/und edges
    def columnLangId(t: String): String = if (t == null) "und" else {
      def len(s: String) = s.codePointCount(0, s.length)
      val (score, lang) = TextAnalysis.LangProfiles.map { case (lang, gs) =>
        (gs.map(g => (len(t) - len(t.replace(g, ""))) / g.length).sum, lang)
      }.max
      if (score > 0) lang else "und"
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sn = typedLit(TextAnalysis.LangSnippets.map(_._2))
    val derived = docs
      .select($"doc_id", concat(
        element_at(sn, pmod($"doc_id", lit(5)).cast("int") + 1),
        lit(" "), substring(lower(coalesce($"text", lit(""))), 1, 60)).as("t2"))
      .unionByName(Seq((-1L, "zzz qqq 12345")).toDF("doc_id", "t2"))
      .unionByName(Seq((-2L, null.asInstanceOf[String])).toDF("doc_id", "t2"))
    val diff = derived.select(TextAnalysis.langIdNgram($"t2"), lower($"t2")).collect()
      .count(r => r.getString(0) != columnLangId(r.getString(1)))
    assert(diff == 0)
  }

  test("capPerGroup keeps the k smallest ids per group, partition-independently") {
    import graft.ops.Sampling
    val rows = (0L until 50L).map(i => (s"g${i % 3}", i))
    val df = rows.toDF("src", "id")
    val kept = Sampling.capPerGroup(df.repartition(7), $"src", $"id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, xs) =>
      xs.map(_._2).sorted.take(4).map(g -> _)
    }.toSet
    assert(kept == expected)
    // a group under the cap keeps everything
    val small = Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("src", "id")
    assert(Sampling.capPerGroup(small, $"src", $"id", 5).count() == 3)
  }

  test("sessionSummaries: boundary-inclusive merge, breaks past the gap") {
    import graft.ops.Sessions
    def t(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    val df = Seq(
      // user 1: an event exactly 30 min after the previous one still
      // MERGES (session_window boundary-inclusive semantics); one second
      // past the gap breaks
      (1L, t("10:00:00")), (1L, t("10:10:00")), (1L, t("10:40:00")),
      (1L, t("11:10:01")),
      // user 2: single event
      (2L, t("09:00:00")),
      // null ts excluded
      (3L, null.asInstanceOf[java.sql.Timestamp])).toDF("u", "ts")
    val out = Sessions.sessionSummaries(df, $"u", $"ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(out == Set(
      (1L, t("10:00:00"), t("11:10:00"), 3L),
      (1L, t("11:10:01"), t("11:40:01"), 1L),
      (2L, t("09:00:00"), t("09:30:00"), 1L)))
  }

  test("snapshotDiff classifies added/removed/changed with null-safe fingerprints") {
    import graft.checks.SnapshotDiff
    val a = Seq((1L, "same"), (2L, "old"), (3L, "gone"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val b = Seq((1L, "same"), (2L, "new"), (5L, "fresh"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val out = SnapshotDiff.diff(a, b, $"id", xxhash64(coalesce($"t", lit(""))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // id 4 (null text both sides) is unchanged and thus absent
    assert(out == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
    // a genuinely-null fingerprint on a PRESENT row must not read as
    // absent (xxhash64 never returns null, length does)
    val outNull = SnapshotDiff.diff(a, b, $"id", length($"t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outNull.get(4L).isEmpty, s"null-fp row misclassified: $outNull")
    assert(outNull == Map(3L -> "removed", 5L -> "added"), s"got $outNull")
  }

  test("lineDedupIntra keeps first occurrences, short lines always survive") {
    import graft.ops.Dedup
    val long1 = "this is a repeated navigation line"
    val long2 = "another sufficiently long content line"
    val df = Seq(
      (1L, s"$long1\n$long2\n$long1\nok\nok\n$long1"),
      (2L, s"$long2"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "t")
    // plan check needs a FILE source (a local relation constant-folds the
    // whole query away): the split must stay materialized in its own
    // projection — if the optimizer inlines it into the filter lambda, the
    // text re-splits once per line (the HOF-inlining pathology minhashPairs
    // documents)
    val planDir = java.nio.file.Files.createTempDirectory("graft-ldi").toString
    df.where($"t".isNotNull).write.mode("overwrite").parquet(planDir)
    val qf = Dedup.lineDedupIntra(spark.read.parquet(planDir), $"doc_id", $"t")
    val nSplits = "split\\(".r
      .findAllIn(qf.queryExecution.optimizedPlan.toString).length
    assert(nSplits == 1, s"split inlined $nSplits times:\n${qf.queryExecution.optimizedPlan}")
    val out = Dedup.lineDedupIntra(df, $"doc_id", $"t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: 6 lines; the two later copies of long1 drop; short "ok" repeats keep
    assert(out(1L) == ((4L, 2L, s"$long1\n$long2\nok\nok")))
    assert(out(2L) == ((1L, 0L, long2)))
    assert(!out.contains(3L))
  }

  test("adversarial skew: capPerGroup bounds shuffle under a one-domain flood") {
    import graft.ops.Sampling
    // one domain owns 1M of 1.01M rows; the bounded-heap aggregate must
    // partial-combine so the hot group's shuffle carries ~k rows per map
    // task, never the raw million (the row_number window would sort them
    // all in ONE task)
    val n = 1000000L
    val df = spark.range(n + 10000).select(
      when($"id" < n, "hot").otherwise(concat(lit("cold"), pmod($"id", lit(100))))
        .as("src"),
      $"id")
    val maxTaskRead = new java.util.concurrent.atomic.AtomicLong(0)
    val totalShuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          totalShuffleWrite.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          val rec = m.shuffleReadMetrics.recordsRead
          var prev = maxTaskRead.get()
          while (rec > prev && !maxTaskRead.compareAndSet(prev, rec))
            prev = maxTaskRead.get()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val kept =
      try {
        val o = Sampling.capPerGroup(df, $"src", $"id", 8).collect()
        var last = -1L; var stable = 0; var waited = 0
        while (stable < 5 && waited < 50) {
          Thread.sleep(200); waited += 1
          val cur = totalShuffleWrite.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        o
      } finally spark.sparkContext.removeSparkListener(listener)
    // correctness: hot keeps ids 0..7; every cold group keeps its 8 smallest
    val byG = kept.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    assert(byG("hot").toSeq == (0L until 8L))
    assert(byG.size == 101 && byG.forall(_._2.length == 8))
    assert(byG("cold0").toSeq == (0 until 8).map(j => n + j * 100L))
    // combine bound: the aggregate's exchange carries per-(task, group)
    // heaps, not rows — orders of magnitude under the 1M raw rows
    assert(totalShuffleWrite.get() > 0, "listener captured no shuffle metrics")
    assert(totalShuffleWrite.get() < n / 10,
      s"shuffle carried ${totalShuffleWrite.get()} records — hot group not combined")
    assert(maxTaskRead.get() < n / 10,
      s"single task read ${maxTaskRead.get()} shuffle records")
  }

  test("stratifiedSampleByHash nests within the flat sampler and scales per stratum") {
    import graft.ops.{Sampling, TextAnalysis}
    val df = spark.range(4000).select($"id",
      when(pmod($"id", lit(2)) === 0, "en").otherwise("zh").as("lang"))
    val strat = Sampling.stratifiedSampleByHash(df, $"id", $"lang",
      Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.0, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // nesting: every stratified keep is in the flat 0.5 sample (same salt)
    val flat = TextAnalysis.sampleByHash(df, $"id", 0.5, salt = "s")
      .collect().map(_.getLong(0)).toSet
    assert(strat.map(_._1).forall(flat.contains))
    // rates land near target per stratum (hash-uniformity tolerance)
    val byLang = strat.groupBy(_._2).view.mapValues(_.size).toMap
    assert(math.abs(byLang("en") - 1000) < 150, s"en: ${byLang("en")}")
    assert(math.abs(byLang("zh") - 200) < 80, s"zh: ${byLang("zh")}")
    // deterministic: partitioning never changes the kept set
    val again = Sampling.stratifiedSampleByHash(df.repartition(13), $"id", $"lang",
      Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.0, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(strat.toSet == again.toSet)
  }

  test("packSequences chunk arithmetic pinned by hand (single bucket)") {
    import graft.ops.Packing
    // capacity 10; docs in id order with token counts 4, 8, 0, 10, 3:
    // cum     0   4   12  12  22
    // first   0   0   1   1   2
    // last    0   1   1   2   2     (zero-token doc: last == first)
    // offset  0   4   2   2   2
    val df = Seq((0L, 4L), (1L, 8L), (2L, 0L), (3L, 10L), (4L, 3L))
      .toDF("doc", "n")
    val out = Packing.packSequences(df.repartition(3), $"doc", $"n",
        capacity = 10, buckets = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == Map(
      0L -> ((0L, 0L, 0L)), 1L -> ((0L, 1L, 4L)), 2L -> ((1L, 1L, 2L)),
      3L -> ((1L, 2L, 2L)), 4L -> ((2L, 2L, 2L))))
    // multi-bucket: per-bucket streams are independent and deterministic
    val big = spark.range(500).select($"id", (pmod($"id", lit(7)) + 1).as("n"))
    val a = Packing.packSequences(big, $"id", $"n", 16, 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val b = Packing.packSequences(big.repartition(11), $"id", $"n", 16, 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(a == b)
    // stream conservation per bucket: last doc's chunk_offset + n lands at
    // the bucket's total token count mod capacity
    val perBucket = Packing.packSequences(big, $"id", $"n", 16, 4)
      .groupBy($"bucket").agg(sum($"n_tokens").as("tot"),
        max(struct($"id", $"chunk_first", $"chunk_offset", $"n_tokens")).as("last"))
      .collect()
    perBucket.foreach { r =>
      val tot = r.getLong(1)
      val last = r.getStruct(2)
      val endAbs = last.getLong(1) * 16 + last.getLong(2) + last.getLong(3)
      assert(endAbs == tot, s"bucket ${r.getLong(0)}: $endAbs != $tot")
    }
  }

  test("distinctiveTerms tokenizes the corpus ONCE (tf exchange reused by the df branch)") {
    import graft.ops.TextAnalysis
    // a FILE source mirrors the real query shape (a tiny in-memory range
    // fuses the tf aggregate into one stage with no exchange to reuse)
    val dir = java.nio.file.Files.createTempDirectory("graft-tfidf").toString
    spark.range(200).select($"id",
        concat(lit("alpha beta gamma tok"), pmod($"id", lit(17))).as("t"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val q = TextAnalysis.distinctiveTerms(df, $"id", $"t", k = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange"),
      s"df branch rebuilt the (doc, term) aggregate — corpus tokenized twice:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"corpus scanned more than once:\n$plan")
  }

  test("distinctiveTerms ranks by (tf desc, df asc, term asc)") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana banana apple"),
      (3L, "cherry dates dates")).toDF("doc_id", "t")
    val got = TextAnalysis.distinctiveTerms(df, $"doc_id", $"t", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(4)) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1: apple tf=2; tie tf=1 between banana(df 2) and cherry(df 2) -> term asc
    assert(got((1L, 1L)) == (("apple", 2L, 2L)))
    assert(got((1L, 2L)) == (("banana", 1L, 2L)))
    // doc 2: banana tf=3, apple tf=1
    assert(got((2L, 1L)) == (("banana", 3L, 2L)))
    assert(got((2L, 2L)) == (("apple", 1L, 2L)))
    // doc 3: dates tf=2 (df 1), cherry tf=1 (df 2)
    assert(got((3L, 1L)) == (("dates", 2L, 1L)))
    assert(got((3L, 2L)) == (("cherry", 1L, 2L)))
  }

  test("topKTerms and repetitionStats on a hand corpus") {
    val df = Seq("a b a b a", "c c c c").toDF("t")
    val top = TextAnalysis.topKTerms(df, $"t", 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("c", 4L), ("a", 3L)))
    val rep = df.select(TextAnalysis.repetitionStats($"t", 2).as("r"))
      .select($"r.n_grams", $"r.n_distinct")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rep.toSeq == Seq((4, 2), (3, 1)))
  }

  test("contaminationOverlap flags docs sharing n-grams with a benchmark") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words here nothing shared")).toDF("id", "t")
    val bench = Seq("the quick brown fox ran").toDF("t")
    val out = Dedup.contaminationOverlap(corpus, $"id", $"t", bench, $"t",
        n = 3, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // shared: "the quick brown", "quick brown fox"
    assert(out == Map(1L -> 2L))
  }

  test("contaminationOverlap broadcasts the benchmark side (no corpus shuffle)") {
    val plan = Dedup.contaminationOverlap(docs, $"doc_id", $"text",
      docs.where($"doc_id" % 50 === 0), $"text").queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n$s")
    // the only exchange is the per-doc count aggregation (plus the broadcast
    // build side); the exploded corpus stream must not be hash-repartitioned
    // before the join
    assert(!s.contains("SortMergeJoin"), "corpus side must not sort-merge")
  }

  test("minhash LSH finds injected near-duplicates and nothing else") {
    val mutated = docs.where($"doc_id" % 20 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val corpus = docs.select($"doc_id", $"text").unionByName(mutated)
    val pairs = Dedup.minhashPairs(corpus, $"doc_id", $"text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the documents table carries natural near-dup clusters by construction,
    // so the injected pairs must be a subset (exact-set agreement with the
    // ngram-jaccard baseline is asserted in the next test)
    val expected = (0L until 500L by 20).map(i => (i, i + 1000000)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("ngramJaccardPairs does not depend on block size; mass-dup groups give every pair") {
    // groupPairs splits prefix groups over maxFlatGroup members into blocks
    // (a group's full quadratic candidate set must never materialize in one
    // array); exactness must not depend on the block size
    val sample = docs.where($"text".isNotNull && $"doc_id" < 200)
    def pairsOf(mfg: Int) = Dedup.ngramJaccardPairs(sample, $"doc_id", $"text",
        threshold = 0.7, maxFlatGroup = mfg)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneBlock = pairsOf(1000000)
    val singletonBlocks = pairsOf(1) // every group of >= 2 splits into blocks
    assert(oneBlock == singletonBlocks)
    assert(oneBlock.nonEmpty) // the comparison must actually exercise pairs
    // mass-duplicate farm: 300 identical docs -> every prefix group has 300
    // members (> default 256), so it splits into blocks; all pairs must
    // still surface
    val farm = spark.range(300).select($"id",
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").as("t"))
    val n = Dedup.ngramJaccardPairs(farm, $"id", $"t").count()
    assert(n == 300L * 299 / 2)
  }

  test("simhash hamming-0 pairs do not depend on block size; a 600-copy farm gives all pairs") {
    // same groupPairs contract as the ngram expansion: identical results at
    // any block size, and a duplicate group larger than maxBucket splits
    // into blocks (never one intra-row flatten) yet yields its full list
    val farm = spark.range(600).select($"id",
      lit("alpha beta gamma delta epsilon zeta eta theta").as("t"))
      .unionByName(spark.range(600, 610).select($"id",
        concat(lit("unique text number "), $"id", lit(" with words")).as("t")))
    val pairs = Dedup.simhashPairs(farm, $"id", $"t")
      .where($"hamming" === 0)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 600-copy group's pair list must be complete (the near-identical
    // "unique" tail may add its own hamming-0 pairs — short texts can
    // share a simhash after a one-token edit — so assert the farm subset)
    val farmPairs = pairs.filter { case (a, b) => a < 600 && b < 600 }
    assert(farmPairs.size == 600 * 599 / 2) // full quadratic list, streamed
    assert(farmPairs.forall { case (a, b) => a < b })
    // hamming-0 block-size independence on a mixed corpus: maxBucket=1
    // splits every dup group into singleton blocks (hamming-0 only —
    // maxBucket also caps the cross-signature buckets, which is a
    // different, documented recall trade)
    val mixed = spark.range(40).select($"id",
      concat(lit("shared boilerplate text block"),
        when($"id" % 4 === 0, lit("")).otherwise(concat(lit(" v"), $"id"))).as("t"))
    def zeroPairs(mb: Int) = Dedup.simhashPairs(mixed, $"id", $"t", maxBucket = mb)
      .where($"hamming" === 0)
      .select($"a", $"b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneBlock = zeroPairs(1000)
    assert(oneBlock == zeroPairs(1))
    assert(oneBlock.nonEmpty)
  }

  test("ngram jaccard baseline agrees with minhash on the same corpus") {
    val mutated = docs.where($"doc_id" % 20 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val corpus = docs.select($"doc_id", $"text").unionByName(mutated)
    val a = Dedup.ngramJaccardPairs(corpus, $"doc_id", $"text", threshold = 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.minhashPairs(corpus, $"doc_id", $"text", threshold = 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("simhash pairs identical and near-identical token streams") {
    val base = docs.select($"doc_id", $"text")
    val clones = docs.where($"doc_id" % 50 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), $"text")
    val pairs = Dedup.simhashPairs(base.unionByName(clones), $"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert((0L until 500L by 50).map(i => (i, i + 1000000)).toSet.subsetOf(exact))
  }

  test("embedding cosine near-dup via hyperplane LSH finds injected clones") {
    val clones = emb.where($"vec_id" % 25 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label")
    val pairs = Dedup.embeddingCosinePairs(
      emb.unionByName(clones), $"vec_id", $"embedding", minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 500L by 25).map(i => (i, i + 1000000)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("band exchanges carry keys only: no vector / no shingle payload") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StringType}
    // the same assertions run twice: against the static AQE-off plan AND
    // against the AQE-ON final executed plan (round-5 verdict: AQE
    // re-plans exchanges, so an AQE-off-only pin can miss exactly the
    // divergence it exists to prevent; finalPlanNodes unwraps the
    // adaptive wrappers after an action has materialized the stages)
    // NB: a Dataset caches its QueryExecution on first access, and
    // df.write spawns a SEPARATE execution — so each phase gets a freshly
    // constructed DataFrame, and the AQE phase materializes via collect()
    // (which executes the Dataset's OWN queryExecution, flipping the
    // adaptive plan to isFinalPlan=true before inspection)
    def exchanges(df: org.apache.spark.sql.DataFrame, aqe: Boolean) =
      if (aqe) {
        df.collect()
        finalPlanNodes(df).collect {
          case e: ShuffleExchangeExec => e
        }.distinct
      } else {
        val prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      }
    for (aqe <- Seq(false, true)) {
      def bandExchanges(df: org.apache.spark.sql.DataFrame) = {
        val ex = exchanges(df, aqe)
          .filter(_.outputPartitioning.toString.contains("band"))
        assert(ex.nonEmpty, s"expected a band-keyed exchange (aqe=$aqe)")
        ex
      }
      // embedding LSH: the x`bands` fan-out must not carry the embedding
      bandExchanges(Dedup.embeddingCosinePairs(emb, $"vec_id", $"embedding",
          minCosine = 0.9)).foreach { e =>
        val vecs = e.output.filter(_.dataType match {
          case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
          case _                                                  => false
        })
        assert(vecs.isEmpty,
          s"vector column rides the band exchange (aqe=$aqe): ${e.output}")
      }
      // minhash LSH: the x`bands` fan-out must not carry the shingle arrays
      bandExchanges(Dedup.minhashPairs(docs, $"doc_id", $"text")).foreach { e =>
        val shingleCols = e.output.filter(_.dataType match {
          case ArrayType(StringType, _) => true
          case _                        => false
        })
        assert(shingleCols.isEmpty,
          s"shingles ride the band exchange (aqe=$aqe): ${e.output}")
      }
    }
  }

  test("groupPairs block split yields exactly the brute-force i<j pairs") {
    // maxFlat = 4 with groups of 1, 2, 4 (one block each), 5 and 13 (2 and
    // 4 blocks): every unordered pair must land in exactly one block row,
    // and `keep` must run on cross-block rows too
    val sizes = Seq(1, 2, 4, 5, 13)
    val members = sizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map(i => (g.toLong, g * 100L + i * 7 % 13, i.toLong)) }
    def keep(a: Long, b: Long) = (a + b) % 5 != 0
    val expected = members.groupBy(_._1).values.toSeq.flatMap { ms =>
      val ids = ms.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size if keep(ids(i), ids(j)))
        yield (ids(i), ids(j), ids(i) * 1000 + ids(j))
    }
    assert(expected.size > 50)
    val wOf = members.map(m => m._2 -> m._3).toMap
    val got = Dedup.groupPairs(members.toDF("g", "id", "w"), "g", maxFlat = 4)(
        (x, y) => struct(x.getField("id").as("a"), y.getField("id").as("b"),
          (x.getField("id") * 1000 + y.getField("id")).as("ab"),
          (x.getField("w") * 1000 + y.getField("w")).as("wab")),
        (x, y) => (x.getField("id") + y.getField("id")) % 5 =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._4) == got.map(r => wOf(r._1) * 1000 + wOf(r._2))) // payload rides
    val pairs = got.map(r => (r._1, r._2, r._3))
    assert(pairs.size == pairs.distinct.size, "a pair was emitted twice")
    assert(pairs.toSet == expected.toSet)
  }

  test("ngramJaccardPairs plans the shared upstream twice, not once per route") {
    // static plan (AQE off), counted before exchange reuse so
    // every recomputation shows: the prefix pipeline (2 scans, 1 window)
    // feeds only groupPairs' size count and its member side, plus one
    // verify scan. The size-routed hybrid planned 13 scans and 6 windows.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text")
        .queryExecution.sparkPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }.size
      val windows = plan.collect { case w: WindowExec => w }.size
      assert(scans <= 5, s"$scans parquet scans:\n$plan")
      assert(windows <= 2, s"$windows windows:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("simhash mass-duplicate boilerplate keeps candidate volume sub-quadratic") {
    // 400 + 400 identical docs (two boilerplate farms) + a few unique ones:
    // the adversarial 100 TB shape — identical sigs land in ONE bucket in
    // every table, so an uncollapsed self-join would generate ~C(800,2)
    // candidate rows through the shuffle
    val boiler = (0L until 400L).map(i =>
      (i, "the same boilerplate text repeated everywhere all over this corpus"))
    val boiler2 = (1000L until 1400L).map(i =>
      (i, "another mass duplicated chunk of text with its own stable signature"))
    val unique = (2000L until 2005L).map(i =>
      (i, s"genuinely distinct document number $i about topic ${i * 37}"))
    val df = (boiler ++ boiler2 ++ unique).toDF("doc_id", "text")
    val sigs = df.select(simhash64(Dedup.tokens($"text")).as("sig")).distinct()
    val nSigs = sigs.count()
    assert(nSigs <= 7, s"identical texts must collapse to one sig each, got $nSigs")
    // cross-sig candidate generation sees DISTINCT sigs only: its volume is
    // bounded by the distinct-sig count, independent of the 800 duplicates
    val cands = Dedup.simhashSigPairs(sigs, maxHamming = 3, cleanBlocks = 2,
      maxBucket = 256).count()
    assert(cands <= nSigs * (nSigs - 1) / 2)
    // ...while the emitted pair list still carries the full intra-group truth
    val pairs = Dedup.simhashPairs(df, $"doc_id", $"text")
    assert(pairs.where($"hamming" === 0).count() >= 2L * (400L * 399 / 2))
  }

  test("lineDedup keeps only the first corpus occurrence of long lines") {
    val docs = Seq(
      (1L, "shared header line here\nunique content of doc one\n--\nshared footer line here"),
      (2L, "shared header line here\nunique content of doc two\n--\nshared footer line here"),
      (3L, "shared header line here")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 wins both shared lines; the short "--" (< minLen) survives everywhere
    assert(out(1L) == ((4L, 0L,
      "shared header line here\nunique content of doc one\n--\nshared footer line here")))
    assert(out(2L) == ((2L, 2L, "unique content of doc two\n--")))
    // doc 3's only line was dropped -> doc absent from output
    assert(!out.contains(3L))
  }

  test("bucket-stats audits surface mass-duplicate buckets before capping") {
    // 50 identical docs share every band bucket: the audit's top bucket
    // must report all 50 members in each of the 32 bands
    val flood = (0L until 50L).map(i =>
      (i, "identical boilerplate body shared by every doc in this flood"))
    val stats = Dedup.minhashBucketStats(flood.toDF("doc_id", "text"),
      $"doc_id", $"text", minSize = 2).collect()
    assert(stats.length == 32 && stats.forall(_.getLong(2) == 50L))
    // the audit reads minhashPairs' own band rows, so null-text docs (which
    // the operator excludes) report no bucket
    val withNulls = Seq((1L, "alpha beta gamma delta"), (2L, null),
      (3L, null), (4L, null)).toDF("doc_id", "text")
    assert(Dedup.minhashBucketStats(withNulls, $"doc_id", $"text", minSize = 2).isEmpty)
  }

  test("null-text and duplicate-id inputs produce no degenerate pairs") {
    // null text: no content to compare -> excluded, NOT pooled into one
    // giant "duplicate" group (that would collapse all null docs into one
    // cluster and delete the rest downstream)
    val withNulls = Seq((1L, "alpha beta gamma delta"), (2L, null),
      (3L, null), (4L, null)).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(withNulls, $"doc_id", $"text").count() == 0)
    assert(Dedup.minhashPairs(withNulls, $"doc_id", $"text").count() == 0)
    assert(Dedup.ngramJaccardPairs(withNulls, $"doc_id", $"text").count() == 0)
    // duplicate id (same row ingested twice): self-pairs (x, x) must not
    // appear in any pair operator's output
    val dup = Seq((7L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val twice = dup.unionByName(dup)
    assert(Dedup.simhashPairs(twice, $"doc_id", $"text")
      .where($"a" === $"b").count() == 0)
    assert(Dedup.minhashPairs(twice, $"doc_id", $"text")
      .where($"a" === $"b").count() == 0)
    val dupVec = Seq((7L, (0 until 64).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    assert(Dedup.embeddingCosinePairs(dupVec.unionByName(dupVec),
        $"vec_id", $"embedding", minCosine = 0.5)
      .where($"a" === $"b").count() == 0)
  }

  test("dupClusters with a reliable checkpoint dir matches localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val chain = (30L until 45L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain).toDF("a", "b")
    val out = Dedup.dupClusters(pairs, maxIters = 8, checkpointDir = Some(dir.toString))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L) ++
      (30L to 45L).map(_ -> 30L).toMap
    assert(out == expected)
    // reliable (non-executor-volatile) state actually hit the directory
    val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
    assert(wrote > 0, "no reliable checkpoint files written")
    // ...and prior rounds' snapshots were GC'd: the chain takes several
    // pointer-doubling rounds, but only the LAST round's rdd-* dir may
    // remain (Spark itself never deletes checkpoints unless
    // cleanCheckpoints is on — unbounded disk growth on long runs)
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(dir, 3).iterator().asScala
      .filter(p => p.toFile.isDirectory && p.getFileName.toString.startsWith("rdd-"))
      .toVector
    assert(rddDirs.size == 1,
      s"expected exactly 1 surviving checkpoint dir, got: $rddDirs")
  }

  test("bindOnce keeps one split per row in the optimized plan") {
    // bindOnce binds a value through element_at(transform(array(x), f), 1);
    // an optimizer rewrite that inlined that back into f(x) would put the
    // split once per lambda reference into the plan and re-split the text
    // per array element
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    def splits(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case s: StringSplit => s
      }))
    assert(splits(docs.select(Dedup.rawShingles($"text"))).size == 1)
    assert(splits(Dedup.lineDedupIntra(docs, $"doc_id", $"text")).size == 1)
  }

  /** Plain-Scala cosine: the ANN tests' independent reference. */
  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  /** (vec_id, embedding as doubles) rows of an embeddings frame. */
  private def vectors(df: org.apache.spark.sql.DataFrame): Array[(Long, Seq[Double])] =
    df.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))

  test("brute-force cosine top-k is deterministic and self-excludes correctly") {
    // a multi-row query frame (every 100th vector, vec 0 among them) against
    // the corpus without vec 0: one job, ranks 1..10 per query
    val queries = emb.where($"vec_id" % 100 === 0)
    val corpus = emb.where($"vec_id" =!= 0)
    val top = Similarity.topKCosine(corpus, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    // exact local oracle: cosine computed in plain Scala over collected rows
    val all = vectors(corpus)
    val qs = vectors(queries)
    assert(qs.length == 5 && top.keySet == qs.map(_._1).toSet)
    qs.foreach { case (qid, qd) =>
      val expected = all.map { case (i, v) => (i, cos(qd, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(10).map(_._1).toSeq
      assert(top(qid) == expected, s"query $qid diverged")
    }
    assert(!top(0L).contains(0L)) // vec 0 is not in the corpus
  }

  test("TopKAgg: bounded, ordered (score DESC, id ASC), merge-correct") {
    // ties on score must break to the LOWER id; k larger than the group
    // returns the whole group; the partial/merge path is exercised by
    // forcing many input partitions
    val rows = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.7))
    val df = rows.toDF("id", "score").repartition(8)
    val top3 = df.agg(graft.agg.TopKAgg.topK($"score", $"id", 3).as("t"))
      .select(explode($"t").as("e")).select($"e.id", $"e.score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top3 == Seq((2L, 0.9), (3L, 0.9), (5L, 0.7)))
    val topAll = df.agg(graft.agg.TopKAgg.topK($"score", $"id", 100).as("t"))
      .select(size($"t")).collect().head.getInt(0)
    assert(topAll == 5)
    // grouped: each group keeps its own bounded top-k
    val grouped = Seq((1, 1L, 1.0), (1, 2L, 2.0), (1, 3L, 3.0),
      (2, 4L, 9.0), (2, 5L, 8.0)).toDF("g", "id", "score").repartition(8)
      .groupBy($"g").agg(graft.agg.TopKAgg.topK($"score", $"id", 2).as("t"))
      .select($"g", transform($"t", e => e.getField("id")).as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(grouped == Map(1 -> Seq(3L, 2L), 2 -> Seq(4L, 5L)))
  }

  test("TopKAgg ranks a NaN score first whatever order it arrives in") {
    // NaN ranks above every score, as in ORDER BY score DESC: an early NaN
    // used to stay as the best hit while a late one was never admitted
    def keep(offers: Seq[(Double, Long)]): Seq[Long] = {
      val buf = new graft.agg.TopKBuf(2)
      offers.foreach { case (s, i) => buf.offer(s, i) }
      buf.sorted.map(_.id).toSeq
    }
    val offers = Seq((Double.NaN, 1L), (0.5, 2L), (0.9, 3L))
    assert(keep(offers) == Seq(1L, 3L))
    assert(keep(offers.reverse) == Seq(1L, 3L))
    val df = Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.9), (4L, 0.1), (5L, 0.7))
      .toDF("id", "score").repartition(8)
    val top2 = df.agg(graft.agg.TopKAgg.topK($"score", $"id", 2).as("t"))
      .select(explode($"t").as("e")).select($"e.id").collect().map(_.getLong(0)).toSeq
    val ordered = df.orderBy($"score".desc, $"id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(2L, 3L))
    assert(top2 == ordered)
  }

  test("batch brute-force top-k matches the single-query baseline per query") {
    val queries = emb.where($"vec_id" % 100 === 0)
    val batch = Similarity.topKCosine(emb, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(_._3).toSeq }
    val qids = queries.select($"vec_id").collect().map(_.getLong(0))
    assert(batch.keySet == qids.toSet)
    // the baseline: one search per query, each with a one-row query frame
    qids.foreach { qid =>
      val single = Similarity.topKCosine(emb, $"vec_id", $"embedding",
          emb.where($"vec_id" === qid), $"vec_id", $"embedding", k = 10)
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        .map(_._2).toSeq
      assert(batch(qid) == single, s"query $qid diverged")
    }
  }

  test("IVF search: full probe exact, partial probe equals a re-rank of the probed lists") {
    val queries = emb.where($"vec_id" % 100 === 0)
    val model = ops.Ivf.train(emb, $"vec_id", $"embedding", k = 8, iters = 2)
    val index = ops.Ivf.assign(emb, $"vec_id", $"embedding", model)
    // full probe = exact: must equal the brute-force search, ranks included
    val full = ops.Ivf.search(index, model, queries, $"vec_id", $"embedding",
        topK = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.topKCosine(emb, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    // partial probe: each query's result is the plain-Scala re-rank of the
    // members of its 2 nearest clusters (cluster ranking in Scala too)
    val partial = ops.Ivf.search(index, model, queries, $"vec_id", $"embedding",
        topK = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    val members = index.select($"id", $"v", $"cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble), r.getInt(2)))
    val qs = vectors(queries)
    assert(partial.keySet == qs.map(_._1).toSet)
    qs.foreach { case (qid, qv) =>
      val probes = model.centroids.indices
        .sortBy(j => (-cos(qv, model.centroids(j).map(_.toDouble).toSeq), j)).take(2).toSet
      val expected = members.filter(m => probes(m._3))
        .map { case (id, v, _) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
      assert(partial(qid) == expected, s"query $qid: probes $probes")
    }
  }

  test("token counts match a hand count") {
    val df = Seq("a b  c", " x ", "", "one").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 1, 0, 1))
  }

  test("subword counts: letter runs + digit runs + punct singles, no whitespace pieces") {
    val df = Seq(
      "hello, world!",   // hello , world !        -> 4
      "abc123def",       // abc 123 def            -> 3
      "  spaced   out ", // spaced out             -> 2
      "a--b",            // a - - b                -> 4
      "").toDF("t").select(TextAnalysis.subwordCount($"t").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(4, 3, 2, 4, 0))
  }

  test("quality metrics and gate") {
    val good = Seq("the quick brown fox jumps over the lazy dog again and again").toDF("t")
    val bad = Seq("1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16").toDF("t")
    assert(good.select(TextAnalysis.qualityPass($"t")).collect().head.getBoolean(0))
    assert(!bad.select(TextAnalysis.qualityPass($"t")).collect().head.getBoolean(0))
    val m = good.select(TextAnalysis.qualityMetrics($"t").as("m")).select("m.*").collect().head
    assert(m.getAs[Int]("n_tokens") == 12)
    assert(m.getAs[Int]("n_stopwords") == 3) // the, the, and
  }

  test("language id picks the marker-dominant language") {
    val df = Seq(
      "the cat and the dog went to the market in that town",
      "der Hund und die Katze sind nicht auf der Straße",
      "el perro y la casa es en los campos que hay por aquí",
      "le chien est dans la maison et les champs pour vous",
      "mmmm hmm zzz").toDF("t")
    val got = df.select(TextAnalysis.langId($"t")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "es", "fr", "und"))
  }

  test("PII redaction scrubs emails/IPs/phones and counts them") {
    val rows = Seq(
      ("d1", "mail me at alice.smith+x@sub.example.org today"),
      ("d2", "server 192.168.0.1 and 10.0.0.7 responded, call 555-0123"),
      ("d3", "no pii here at all"),
      ("d4", "two mails a@b.io c@d.co and 555-9999")).toDF("id", "text")
    val out = rows.select($"id",
        TextAnalysis.redactPii($"text").as("r"),
        TextAnalysis.piiCounts($"text").as("c"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getStruct(2).getInt(0), r.getStruct(2).getInt(1),
          r.getStruct(2).getInt(2))).toMap
    assert(out("d1") == (("mail me at <EMAIL> today", 1, 0, 0)))
    assert(out("d2") == (("server <IP> and <IP> responded, call <PHONE>", 0, 2, 1)))
    assert(out("d3") == (("no pii here at all", 0, 0, 0)))
    assert(out("d4") == (("two mails <EMAIL> <EMAIL> and <PHONE>", 2, 0, 1)))
  }

  test("hash sampling is deterministic, partition-independent, salt-sensitive") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    val s1 = ids(TextAnalysis.sampleByHash(docs, $"doc_id", 0.2))
    val s2 = ids(TextAnalysis.sampleByHash(docs.repartition(13), $"doc_id", 0.2))
    assert(s1 == s2, "sample depends on partitioning")
    // rate is approximately honored (binomial over 500 docs)
    assert(s1.size > 50 && s1.size < 150, s"rate off: ${s1.size}/500")
    // nested property: a higher-rate sample CONTAINS the lower-rate one
    // (same hash, larger cut — stable subsets as the budget grows)
    val s3 = ids(TextAnalysis.sampleByHash(docs, $"doc_id", 0.5))
    assert(s1.subsetOf(s3))
    // different salt draws a different (overlapping-by-chance) sample
    val salted = ids(TextAnalysis.sampleByHash(docs, $"doc_id", 0.2, salt = "x"))
    assert(salted != s1)
  }

  test("fingerprints are stable under small edits, distinct for different docs") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog and runs far away tonight"),
      ("b", "the quick brown fox jumps over the lazy dog and runs far away tonight ok"),
      ("c", "completely different content about spark query engines and columnar io")).toDF("id", "t")
      .select($"id", TextAnalysis.fingerprint($"t").as("fp"))
    val fps = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val simAB = fps("a").intersect(fps("b")).size.toDouble / fps("a").union(fps("b")).size
    val simAC = fps("a").intersect(fps("c")).size.toDouble / fps("a").union(fps("c")).size
    assert(simAB > 0.5)
    assert(simAC == 0.0)
  }

  test("sketch expressions: minhash/simhash/cosine sanity") {
    val df = Seq((Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("x", "y", "z"))).toDF("s1", "s2", "s3")
    val r = df.select(
      minhashSig($"s1", 16).as("m1"), minhashSig($"s2", 16).as("m2"),
      minhashSig($"s3", 16).as("m3"),
      simhash64($"s1").as("h1"), simhash64($"s2").as("h2")).collect().head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](0) != r.getSeq[Long](2))
    assert(r.getLong(3) == r.getLong(4))
    val c = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(2.0f, 0.0f)))
      .toDF("a", "b", "c")
      .select(cosineSim($"a", $"b"), cosineSim($"a", $"c"), cosineSim($"a", $"a"))
      .collect().head
    assert(c.getDouble(0) == 0.0 && math.abs(c.getDouble(1) - 1.0) < 1e-12 &&
      math.abs(c.getDouble(2) - 1.0) < 1e-12)
  }

  test("kernel calls: null input keeps its result, float and double vectors agree") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{Literal, TypeOf}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.types.{ArrayType, BooleanType}
    import graft.agg.Kmv
    import graft.checks.ExactQuantile
    import graft.expr.{MarcErrors, MarcJson}
    import graft.ops.Ivf
    import graft.schema.DocSchema
    val centroids = Ivf.Model.axis(8, 64).centroids
    // a null the optimizer cannot fold, so every call runs generated code
    def nul(t: String): Column =
      when($"id" < 0, if (t.startsWith("array")) array() else lit("")).cast(t)
    val vec = nul("array<float>")
    val cases = Seq[(String, Column, Any)](
      ("minhashSig", minhashSig(nul("array<string>"), 16), null),
      ("simhash64", simhash64(nul("array<string>")), null),
      ("fnv64", fnv64(nul("string")), null),
      ("minhashBandKeys", minhashBandKeys(nul("array<bigint>"), 4, 4), null),
      ("cosineSim", cosineSim(vec, vec), null),
      ("cosineRank", cosineRank(vec, centroids, 2), null),
      ("hyperplaneBands", hyperplaneBands(vec, 4, 4, 64), null),
      ("langIdNgram kernel", langIdNgram(nul("string"), TextAnalysis.LangProfiles), null),
      ("TextAnalysis.langIdNgram", TextAnalysis.langIdNgram(nul("string")), "und"),
      ("subwordStats", TextAnalysis.subwordStats(nul("string")), null),
      ("Kmv.decode", Kmv.decode(nul("binary")), null),
      ("MarcJson.column", MarcJson.column(nul("array<struct<kind:string,text:string>>")), null),
      ("MarcErrors.jsonColumn", MarcErrors.jsonColumn(
        nul(ArrayType(DocSchema.violationType).catalogString)), null))
    val row = spark.range(1).select(cases.map { case (n, c, _) => c.as(n) }: _*).collect().head
    cases.zipWithIndex.foreach { case ((n, _, want), i) => assert(row.get(i) == want, n) }
    val q = ExactQuantile.percentiles(spark.range(3).select(nul("double").as("v")),
      $"v", Seq(50)).collect().head
    assert(q.getLong(0) == 0L && q.isNullAt(1))

    // the same vectors as array<float> and array<double>: the double reads
    // of a float are exact, so every kernel result must be identical
    val vecs = emb.select($"embedding".as("f"), $"embedding".cast("array<double>").as("d"))
    val kernels = Seq[Column => Column](
      v => cosineSim(v, reverse(v)), v => cosineRank(v, centroids, 8),
      v => hyperplaneBands(v, 16, 16, 64))
    kernels.foreach(k => assert(vecs.where(not(k($"f") <=> k($"d"))).count() == 0))
    // one float and one double argument in the same call
    assert(vecs.where(not(cosineSim($"f", reverse($"d")) <=> cosineSim($"f", reverse($"f"))))
      .count() == 0)
    // the float flag is folded to a literal before codegen
    def flags(c: Column): Seq[Any] = {
      val plan = vecs.select(c.as("x")).queryExecution.optimizedPlan
      assert(plan.expressions.forall(_.find(_.isInstanceOf[TypeOf]).isEmpty))
      plan.expressions.flatMap(_.collect { case s: StaticInvoke => s.arguments }).flatten
        .collect { case Literal(b, BooleanType) => b }
    }
    kernels.foreach { k =>
      assert(flags(k($"f")).nonEmpty && flags(k($"f")).forall(_ == true))
      assert(flags(k($"d")).nonEmpty && flags(k($"d")).forall(_ == false))
    }
  }
}
