package graft.checks

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Ledger, ParquetSnapshotIO, Snapshot}
import graft.rules.RuleSet

/** The resumable end-to-end validation job (north-star: "runs resume from
  * snapshot-pinned checkpoints with a per-partition lineage + metrics ledger
  * so a killed job replays only unfinished partitions").
  *
  * Unit of recovery = one batch of input files (batch count configurable;
  * one file per batch = finest replay granularity). Each batch is atomic:
  * verdicts + violations are written (append) before its ledger rows, so a
  * ledger row certifies durable output. Within a batch, all files process
  * in ONE distributed job — full cluster parallelism, no per-file loop.
  *
  * Each batch scans its files once and runs the kernel over every doc
  * once: the validated frame (doc_id, src_file, violations, passed) is
  * persisted for the batch, and the verdict write, the violation write and
  * the per-file metrics (a groupBy on the `src_file` input_file_name()
  * lineage) all read it.
  */
object ValidationJob {

  final case class BatchResult(batchKey: String, files: Seq[String], rows: Long,
      violations: Long, docsFailed: Long, elapsedMs: Long)

  final case class RunSummary(runId: String, snapshotId: String,
      batchesRun: Int, batchesSkipped: Int, rows: Long, violations: Long)

  /** Run (or resume) validation over a parquet docs directory.
    *
    * Crash atomicity: batch membership is a pure function of the pinned
    * snapshot (sorted file list, fixed group count), so a replayed batch
    * always targets the SAME deterministic batch directory, and outputs are
    * written with Overwrite — a crash after the data writes but before the
    * ledger append replays the batch into the same directory, clobbering
    * the partial attempt instead of appending duplicates or stranding
    * orphan directories. Resume therefore requires the same `batches` value
    * as the original run (it is part of the recovery-unit definition).
    *
    * @param batches    number of file batches (recovery units)
    * @param maxBatches stop after this many batches (test hook simulating a
    *                   kill between recovery units)
    */
  def run(spark: SparkSession, inputDir: String, outDir: String, runId: String,
      rules: RuleSet = RuleSet.default, batches: Int = 8,
      maxBatches: Int = Int.MaxValue): RunSummary = {
    val snap: Snapshot = ParquetSnapshotIO.pinSnapshot(spark, inputDir, s"$outDir/manifests")
    val done = Ledger.completedFiles(spark, outDir, runId, snap.snapshotId)
    // deterministic batching over the FULL snapshot, then skip whole
    // finished batches — never regroup the remainder (see scaladoc)
    val groups = partitionBatches(snap.files.sorted, batches)
    val todoGroups = groups.filterNot(_.forall(done))

    var rows = 0L; var viols = 0L; var ran = 0
    todoGroups.take(maxBatches).foreach { files =>
      val r = runBatch(spark, snap, files, outDir, runId, rules)
      rows += r.rows; viols += r.violations; ran += 1
    }
    RunSummary(runId, snap.snapshotId, ran,
      batchesSkipped = groups.size - todoGroups.size, rows, viols)
  }

  private def partitionBatches(files: Seq[String], batches: Int): Seq[Seq[String]] =
    if (files.isEmpty) Nil
    else files.grouped(math.max(1, math.ceil(files.size.toDouble / batches).toInt)).toSeq

  private def runBatch(spark: SparkSession, snap: Snapshot, files: Seq[String],
      outDir: String, runId: String, rules: RuleSet): BatchResult = {
    val t0 = System.nanoTime()
    // batch key derives from the (snapshot-sorted) file set: stable across
    // attempts, so a replayed batch overwrites its own prior partial output
    val batchId = java.lang.Integer.toUnsignedString(
      scala.util.hashing.MurmurHash3.orderedHash(files), 16)
    val docs = ParquetSnapshotIO.readSnapshot(spark, snap, files)

    // Overwrite (not Append): a replayed batch must clobber a crashed
    // attempt's partial files in this deterministic directory.
    // The batch's distinct-doc_id KMV sketch rides the verdict write as an
    // observed metric and lands on the batch's ledger rows for cross-run
    // merging.
    val carry = Seq("src_file")
    val validated = RowValidator
      .withViolations(docs.withColumn("src_file", input_file_name()), rules)
      .select("doc_id", "src_file", "violations", "passed")
      .persist()
    val (batchSketch, perFile) = try {
      val obs = org.apache.spark.sql.Observation()
      RowValidator.verdictRows(validated, carry)
        .observe(obs, graft.agg.Kmv.sketch(col("doc_id"), Ledger.SketchK)
          .as("docid_sketch"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/verdicts/run_id=$runId/batch=$batchId")

      // violations expand only for failing docs
      RowValidator.violationRows(validated, carry).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/violations/run_id=$runId/batch=$batchId")

      val perFile = validated
        .groupBy(col("src_file"))
        .agg(count(lit(1)).as("rows"), sum(size(col("violations"))).as("viols"),
          count(when(not(col("passed")), 1)).as("failed"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      (obs.get("docid_sketch").asInstanceOf[Array[Byte]], perFile)
    } finally validated.unpersist()
    val elapsed = (System.nanoTime() - t0) / 1000000L

    // ledger rows LAST: their presence certifies the batch's durable output.
    // files yielding zero rows still get a row (rows=0) so they are not replayed.
    // input_file_name() yields URI form (file:///...) while the snapshot holds
    // FileSystem form (file:/...) — normalize both to the raw path.
    def norm(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val byName = perFile.map { case (f, n, v, d) => norm(f) -> ((n, v, d)) }.toMap
    val ledgerRows = files.map { f =>
      val (n, v, d) = byName.getOrElse(norm(f), (0L, 0L, 0L))
      Ledger.Row(runId, snap.snapshotId, batchId, f, n, v, d, elapsed, batchSketch)
    }
    Ledger.append(spark, outDir, ledgerRows)
    val rows = perFile.map(_._2).sum
    val viols = perFile.map(_._3).sum
    BatchResult(batchId, files, rows, viols, perFile.map(_._4).sum, elapsed)
  }
}
