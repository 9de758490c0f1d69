package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Synth
import graft.ops.Multimodal
import graft.streaming.StreamingValidation

class MultimodalStreamingSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  test("multimodal: real decode — features match the generative formulas") {
    val ids = spark.range(60).map(java.lang.Long.valueOf(_))
    val cat = Multimodal.syntheticCatalog(ids)
    // audio: duration/n_samples/abs_sum from real RIFF chunk-walk decode
    val audio = Multimodal.audioFeatures(cat).orderBy("doc_id").collect()
    assert(audio.length == 20)
    audio.foreach { r =>
      val id = r.getLong(0)
      val n = 800 + (id % 7) * 160
      assert(r.getLong(1) == 8000 && r.getLong(2) == n && r.getLong(3) == n / 8)
      val absSum = (0L until n).map(i => math.abs((id * 1000003L + i * 7919L) % 65536L - 32768L)).sum
      assert(r.getLong(4) == absSum)
    }
    // image: width/height/lum_sum from real BMP decode (padding + bottom-up)
    val img = Multimodal.imageFeatures(cat).orderBy("doc_id").collect()
    assert(img.length == 20)
    img.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (13 + (id % 5).toInt, 7 + ((id / 3) % 4).toInt)
      assert(r.getLong(1) == w && r.getLong(2) == h)
      val lumSum = (for (y <- 0 until h; x <- 0 until w) yield {
        def ch(c: Int) = ((id * 9176L + y * 131L + x * 31L + c * 7L) % 256L).toInt
        (299 * ch(0) + 587 * ch(1) + 114 * ch(2)) / 1000
      }).map(_.toLong).sum
      assert(r.getLong(3) == lumSum, s"doc $id lum_sum")
    }
    // video: every-2nd-frame sampling via length-prefix seeks
    val frames = Multimodal.videoFrameFeatures(cat, everyNth = 2).orderBy("doc_id", "frame_idx").collect()
    frames.foreach { r =>
      val (id, fi) = (r.getLong(0), r.getLong(1))
      assert(fi % 2 == 0 && fi < 3 + id % 4)
      assert(r.getLong(2) == fi * 500)
    }
    val expectedFrames = (0L until 60L).filter(_ % 3 == 2)
      .map(id => (3 + id % 4 + 1) / 2).sum
    assert(frames.length == expectedFrames)
  }

  test("multimodal: malformed payloads become typed error rows, never exceptions") {
    import graft.io.MediaCodec.{BmpCodec, FrameContainer, WavCodec}
    val good = Multimodal.syntheticCatalog(spark, 9)
    val bad = good.map(a => a.copy(bytes = a.bytes.take(6))) // truncate all payloads
    // each codec turns a truncated payload into a typed error (a Left)
    bad.collect().foreach { a =>
      val res = a.kind match {
        case "image" => BmpCodec.decode(a.bytes)
        case "audio" => WavCodec.decode(a.bytes)
        case _       => FrameContainer.header(a.bytes)
      }
      assert(res.left.exists(_.nonEmpty), s"doc ${a.doc_id} (${a.kind}) decoded")
    }
    // extractors drop malformed rows rather than throwing
    assert(Multimodal.audioFeatures(bad).count() == 0)
    assert(Multimodal.imageFeatures(bad).count() == 0)
    assert(Multimodal.videoFrameFeatures(bad).count() == 0)
    assert(Multimodal.audioFeatures(good).count() == 3)
  }

  test("multimodal: kind filters push to the scan (payload bytes prune per kind)") {
    val dir = Files.createTempDirectory("graft-media-filter").toString
    Multimodal.syntheticCatalog(spark, 30).write.mode("overwrite").parquet(dir)
    val assets = spark.read.parquet(dir).as[Multimodal.Asset]
    val plan = Multimodal.audioFeatures(assets).queryExecution.executedPlan.toString
    // the kind predicate must reach the parquet scan as a pushed filter —
    // a typed lambda filter would deserialize every payload first
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(kind,audio)"),
      s"kind filter not pushed:\n$plan")
    assert(Multimodal.audioFeatures(assets).count() == 10)
  }

  test("streaming: file-source validation produces the same verdicts as batch") {
    val dir = Files.createTempDirectory("graft-stream").toString
    Synth.corpusDF(spark, 90).write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = graft.checks.RowValidator.verdicts(stream)
      .writeStream.format("memory").queryName("verdicts_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("verdicts_stream")
      .select("doc_id", "passed", "n_violations")
    val batch = graft.checks.RowValidator.verdicts(spark.read.parquet(s"$dir/in"))
    assert(streamed.count() == 90)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming: stateful first-seen dedup suppresses dups within and across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("text", "doc_id", "ts")
    val q = StreamingValidation.firstSeenStream(docs, col("text"), col("doc_id"), "ts")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    try {
      // batch 1: intra-batch dup of "alpha"
      input.addData(("alpha", "d1", t(0)), ("beta", "d2", t(1)), ("alpha", "d3", t(2)))
      q.processAllAvailable()
      // batch 2: cross-batch dup of "alpha" + a new key
      input.addData(("alpha", "d4", t(3)), ("gamma", "d5", t(4)))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").collect().map(_.getString(0)).toSet
      assert(got.size == 3 && got.contains("d2") && got.contains("d5"))
      assert((got.contains("d1") || got.contains("d3")) && !got.contains("d4"))
    } finally q.stop()
  }

  test("streaming: windowed kind frequencies match batch; per-window PSI vs baseline") {
    import graft.checks.Drift
    val dir = Files.createTempDirectory("graft-stream3").toString
    val docs = Synth.corpusDF(spark, 90)
      .withColumn("ts", timestamp_seconds(
        unix_timestamp(to_timestamp(lit("2026-01-01 00:00:00"))) +
          // (id/9)%3: consecutive blocks of 9 ids (one per defect class) per
          // window, so every window carries the full class mix — drift vs
          // the corpus-wide histogram is then exactly zero
          ((substring($"doc_id", 5, 20).cast("long") / 9).cast("long") % 3) * 3600))
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingValidation.kindFrequencyStream(stream, "ts")
      .writeStream.format("memory").queryName("kindfreq_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("kindfreq_stream")
      .select($"window.start".as("w"), $"kind", $"n")
    // parity with the batch windowed aggregate on the same data
    val batch = spark.read.parquet(s"$dir/in")
      .select($"ts", explode($"spans.kind").as("kind"))
      .groupBy(window($"ts", "1 hour"), $"kind")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"kind", $"n")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // closed windows -> PSI against the corpus-wide kind histogram: every
    // window holds 30 docs of identical class mix (ids stripe mod 9 and
    // windows stripe mod 3), so drift vs the overall histogram is ~0 —
    // except class-striping remainders; assert all PSIs are small & finite
    val baseline = Drift.kindFrequencies(spark.read.parquet(s"$dir/in"))
      .select($"kind".as("cat"), $"freq".as("n_base"))
    val psis = Drift.psiGrouped(streamed, baseline, $"w", $"kind", $"n")
      .collect().map(r => r.getDouble(1))
    assert(psis.length == 3)
    assert(psis.forall(p => p >= 0 && p < 0.1), s"unexpected drift: ${psis.toSeq}")
  }
}
