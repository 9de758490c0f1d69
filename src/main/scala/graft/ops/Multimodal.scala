package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.MediaCodec.{Bmp, BmpCodec, FrameContainer, Wav, WavCodec}

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, plus REAL decode / feature-extract / frame-sample stages
  * over pure-JVM codecs ([[graft.io.MediaCodec]]: RIFF/WAV PCM, 24bpp BMP,
  * length-prefixed frame container). No stubs: the bytes in the synthetic
  * catalog are genuine encoded media and the extractors parse them
  * byte-for-byte — verified against a closed-form DuckDB oracle
  * (mm_* queries) that recomputes the decoded features from the generative
  * formulas.
  *
  * Scale shape: decode is embarrassingly parallel (one mapPartitions pass,
  * one asset at a time, no shuffle); each extractor's kind filter pushes to
  * the scan, so other kinds' payload bytes are never deserialized.
  * Malformed payloads are dropped (each codec returns a `Left`, never
  * throws).
  */
object Multimodal {

  /** Asset row: opaque payload + typed metadata. */
  final case class Asset(doc_id: Long, kind: String, mime: String,
      bytes: Array[Byte], width: Int, height: Int, duration_ms: Long)

  // ------------------------------------------------ synthetic generation ---
  // Closed-form generators (mirrored by the DuckDB oracle SQL in SparkEntry):
  //   kind        = doc_id % 3 -> 0=image, 1=audio, 2=video
  //   image       : w = 13 + doc_id%5 (exercises BMP row padding),
  //                 h = 7 + (doc_id/3)%4,
  //                 channel c of pixel (x,y) = (doc_id*9176 + y*131 + x*31 + c*7) % 256
  //   audio       : rate 8000, n = 800 + (doc_id%7)*160,
  //                 sample i = (doc_id*1000003 + i*7919) % 65536 - 32768
  //   video       : frameMs 500, nFrames = 3 + doc_id%4, frame f is an 8x6
  //                 image with seed = doc_id*131071 + f*8191, i.e. channel =
  //                 (seed*9176 + y*131 + x*31 + c*7) % 256

  private def imageFor(seed: Long, w: Int, h: Int): Bmp = {
    val rgb = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def ch(c: Int): Int = ((seed * 9176L + y * 131L + x * 31L + c * 7L) % 256L).toInt
        rgb(y * w + x) = (ch(0) << 16) | (ch(1) << 8) | ch(2)
        x += 1
      }
      y += 1
    }
    Bmp(w, h, rgb)
  }

  private def audioFor(id: Long): Wav = {
    val n = (800 + (id % 7) * 160).toInt
    val samples = Array.tabulate(n)(i => (((id * 1000003L + i * 7919L) % 65536L) - 32768L).toShort)
    Wav(8000, 1, samples)
  }

  private def videoFor(id: Long): (Int, Seq[Bmp]) = {
    val nFrames = (3 + id % 4).toInt
    (500, (0 until nFrames).map(f => imageFor(id * 131071L + f * 8191L, 8, 6)))
  }

  /** Deterministic synthetic media catalog over a set of doc ids: every doc
    * gets one asset whose payload is REAL encoded bytes (BMP/WAV/GVF1 by
    * doc_id % 3). Metadata columns mirror the container truth.
    */
  def syntheticCatalog(ids: Dataset[java.lang.Long]): Dataset[Asset] = {
    import ids.sparkSession.implicits._
    ids.map { boxed =>
      val id = boxed.longValue()
      (id % 3) match {
        case 0 =>
          val img = imageFor(id, 13 + (id % 5).toInt, 7 + ((id / 3) % 4).toInt)
          Asset(id, "image", "image/bmp", BmpCodec.encode(img),
            img.width, img.height, 0L)
        case 1 =>
          val wav = audioFor(id)
          Asset(id, "audio", "audio/wav", WavCodec.encode(wav),
            0, 0, wav.samples.length.toLong * 1000 / wav.sampleRate)
        case _ =>
          val (frameMs, frames) = videoFor(id)
          Asset(id, "video", "video/x-gvf", FrameContainer.encode(frameMs, frames),
            frames.head.width, frames.head.height, frameMs.toLong * frames.length)
      }
    }
  }

  /** Convenience: catalog over `spark.range(n)`. */
  def syntheticCatalog(spark: SparkSession, n: Long): Dataset[Asset] = {
    import spark.implicits._
    syntheticCatalog(spark.range(n).map(java.lang.Long.valueOf(_)))
  }

  // ----------------------------------------------------------- decoding ---

  /** Audio features via real WAV decode: (doc_id, sample_rate, n_samples,
    * duration_ms, abs_sum, peak). Malformed payloads are dropped.
    */
  def audioFeatures(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    // Column predicate (NOT a typed lambda): pushes to the scan, so
    // non-audio rows never deserialize their payload bytes (plan-tested in
    // MultimodalStreamingSpec).
    assets.where(col("kind") === "audio").mapPartitions { it =>
      it.flatMap { a =>
        WavCodec.decode(a.bytes).toOption.map { w =>
          var absSum = 0L
          var peak = 0L
          var i = 0
          while (i < w.samples.length) {
            val v = math.abs(w.samples(i).toLong)
            absSum += v
            if (v > peak) peak = v
            i += 1
          }
          (a.doc_id, w.sampleRate.toLong, w.samples.length.toLong,
            w.samples.length.toLong * 1000 / w.sampleRate, absSum, peak)
        }
      }
    }.toDF("doc_id", "sample_rate", "n_samples", "duration_ms", "abs_sum", "peak")
  }

  /** Image features via real BMP decode (padding + bottom-up rows):
    * (doc_id, width, height, lum_sum, ahash).
    */
  def imageFeatures(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.where(col("kind") === "image").mapPartitions { it =>
      it.flatMap { a =>
        BmpCodec.decode(a.bytes).toOption.map { img =>
          (a.doc_id, img.width.toLong, img.height.toLong, lumSum(img), BmpCodec.aHash(img))
        }
      }
    }.toDF("doc_id", "width", "height", "lum_sum", "ahash")
  }

  /** Frame sampling + per-frame decode for video assets: every `everyNth`
    * frame (0, n, 2n, ...) is SEEKED to via the container's length prefixes —
    * non-sampled frames are never decoded — then BMP-decoded to
    * (doc_id, frame_idx, ts_ms, lum_sum).
    */
  def videoFrameFeatures(assets: Dataset[Asset], everyNth: Int = 2): DataFrame = {
    import assets.sparkSession.implicits._
    require(everyNth >= 1)
    assets.where(col("kind") === "video").mapPartitions { it =>
      it.flatMap { a =>
        (for {
          h <- FrameContainer.header(a.bytes)
          picked = (0 until h.nFrames by everyNth).toSeq
          frames <- FrameContainer.sampleFrames(a.bytes, picked)
        } yield frames.map { case (idx, img) =>
          (a.doc_id, idx.toLong, idx.toLong * h.frameMs, lumSum(img))
        }).getOrElse(Seq.empty)
      }
    }.toDF("doc_id", "frame_idx", "ts_ms", "lum_sum")
  }

  /** Sum of the luminances of every pixel of a decoded image. */
  private def lumSum(img: Bmp): Long = {
    var sum = 0L
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) { sum += img.lum(x, y); x += 1 }
      y += 1
    }
    sum
  }
}
