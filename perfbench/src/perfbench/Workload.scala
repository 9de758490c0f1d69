package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One reported number. `samples` is how many measurements it summarises. */
final case class Metric(value: Double, unit: String, samples: Int = 1)

/** A workload's generated inputs and the work one iteration does over them. */
abstract class Prepared {
  /** What one iteration returns for [[check]]. */
  type Out

  /** Input records one iteration processes (docs or table rows). */
  def records: Long

  /** Row count plus a hash over a fixed sample of the generated inputs. */
  def fingerprint: String

  /** One iteration: calls into the program's public functions, each inside
    * a span named after the layer it exercises.
    */
  def run(tr: Tracer, iter: Int): Out

  /** Output-check failures; empty when the output is correct. */
  def check(out: Out): Seq[String]

  /** Frees what `out` holds (written output directories). */
  def release(out: Out): Unit = ()

  /** Checks too costly for every iteration, made once per run. */
  def finalChecks(): Seq[String] = Nil

  /** Per-layer metrics measured after a traced iteration, before its
    * output is released: direct kernel calls and extra layer calls, each in
    * its own span.
    */
  def layers(tr: Tracer, out: Out): Seq[(String, Metric)]

  /** Span names whose Spark metrics are reported as `spark.<op>.*`. */
  def sparkOps: Seq[String] = Nil
}

trait Workload {
  def name: String
  /** Builds the inputs of `seed` under `dir` (which is empty). */
  def setup(spark: SparkSession, seed: Long, dir: String, cores: Int): Prepared
  /** Smaller inputs for the untraced warm-up iteration that precedes this
    * workload's traced iteration in another workload's traced run; `None`
    * warms up on the full inputs.
    */
  def warmUpSetup(spark: SparkSession, seed: Long, dir: String, cores: Int): Option[Prepared] = None
}

object Workload {
  val all: Seq[Workload] = Seq(ValidateHealthy, ValidateSink, DedupNear, TableChecks)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  /** Deletes a local directory tree (the inputs and outputs under the run's work directory). */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Output-check failure when `got` differs from `want`. */
  def mismatch(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  /** Bytes of all files under `dir`. */
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Hash of a sample's string forms, for input fingerprints. */
  def sampleHash(sample: Iterator[Any]): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(sample.map(_.toString)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.isEmpty) Double.NaN else if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** ns per call of `f` over `n` items: passes repeat until `minSeconds`
    * have elapsed (at least three), and the median pass is reported.
    */
  def nsPerItem(n: Int, minSeconds: Double = 0.3)(pass: => Unit): Metric = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < 3 || (System.nanoTime() - t0) / 1e9 < minSeconds) {
      val s = System.nanoTime(); pass; times += (System.nanoTime() - s).toDouble
    }
    Metric(median(times.toSeq) / n, "ns", times.size)
  }
}
