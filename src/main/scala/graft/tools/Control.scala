package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** In-window pure-CPU control for bench artifacts.
  *
  * This host's throughput swings 4-7x run-to-run with host page-cache /
  * neighbor pressure (BENCH/BASELINE.md "memory weather"), so a raw
  * docs/sec reading is uninterpretable on its own. Every bench artifact
  * therefore embeds the rate of a fixed pure-CPU workload — a codegen'd
  * xxhash64 sum over `spark.range`, no IO, no nested types — measured in
  * the SAME process window at the SAME parallelism. Readers compare
  * `workload_rate / control_rate` across rounds: the ratio cancels the
  * weather, while a genuine code regression moves it.
  *
  * The workload is the one the former standalone `CpuScale` main
  * measured, so historical CpuScale readings remain comparable.
  */
object Control {

  /** Hashes/sec at the session's parallelism: one warm-up, best of 2.
    * `perCore` sizes the work so each leg runs a few seconds regardless of
    * core count (rates are per-second, so total n only sets duration).
    */
  def hashRate(spark: SparkSession, cores: Int, perCore: Long = 500000000L): Double = {
    val n = cores * perCore
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, n, 1, cores * 4)
        .select(sum(xxhash64(col("id")) / lit(1e9))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val best = Seq(once(), once()).min
    n / best
  }

  /** Rows/sec of a bare one-column parquet scan over `dir` — the SECOND
    * control: [[hashRate]] is pure-register compute and shows the CPU
    * ceiling, but the validate workload is dominated by parquet scan +
    * decode, which saturates memory bandwidth well before the CPUs do.
    * A campaign where validate scales worse than the hash control but no
    * worse than this scan control has hit the machine's IO/bandwidth
    * ceiling, not an engine bottleneck.
    */
  def scanRate(spark: SparkSession, dir: String): Double = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = spark.read.parquet(dir)
        .select(count(col("doc_id")), sum(crc32(col("doc_id"))))
        .collect().head.getLong(0)
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    once()
    val (secs, rows) = Seq(once(), once()).minBy(_._1)
    rows / secs
  }
}
