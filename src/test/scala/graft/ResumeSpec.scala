package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.checks.ValidationJob
import graft.gen.Synth
import graft.io.{Ledger, ParquetSnapshotIO}

/** Snapshot pinning, ledger lineage, and kill/resume semantics. */
class ResumeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmp(): String = Files.createTempDirectory("graft-resume").toString

  private def writeCorpus(dir: String, n: Long, parts: Int): Unit =
    Synth.corpusDF(spark, n).repartition(parts)
      .write.mode("overwrite").parquet(dir)

  test("snapshot pinning is idempotent and late files do not leak into a pinned snapshot") {
    val in = tmp()
    writeCorpus(s"$in/docs", 90, 4)
    val m = tmp()
    val s1 = ParquetSnapshotIO.pinSnapshot(spark, s"$in/docs", m)
    val s2 = ParquetSnapshotIO.pinSnapshot(spark, s"$in/docs", m)
    assert(s1 == s2 && s1.files.size == 4)
    // a file arriving after the pin is not visible through the snapshot read
    Synth.corpusDF(spark, 9).coalesce(1).write.mode("append").parquet(s"$in/docs")
    assert(ParquetSnapshotIO.readSnapshot(spark, s1, s1.files).count() == 90)
    // but a new pin sees it
    val s3 = ParquetSnapshotIO.pinSnapshot(spark, s"$in/docs", m)
    assert(s3.files.size == 5 && s3.snapshotId != s1.snapshotId)
  }

  test("full run writes verdicts, violations, and one ledger row per file") {
    val in = tmp(); val out = tmp()
    writeCorpus(s"$in/docs", 180, 6)
    val sum = ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3)
    assert(sum.rows == 180 && sum.batchesRun == 3 && sum.batchesSkipped == 0)
    val ledger = Ledger.read(spark, out)
    assert(ledger.count() == 6)
    assert(ledger.agg(sum1("rows_validated")).collect().head.getLong(0) == 180)
    val verdicts = spark.read.parquet(s"$out/verdicts")
    assert(verdicts.count() == 180)
    // violations total matches the closed-form per-class expectation
    val viols = spark.read.parquet(s"$out/violations")
    assert(viols.count() == 20 * Synth.violationsPerClass.sum)
  }

  private def sum1(c: String) = org.apache.spark.sql.functions.sum(col(c))

  test("a killed run resumes replaying only unfinished files, with identical final output") {
    val in = tmp(); val out = tmp()
    writeCorpus(s"$in/docs", 180, 6)
    // kill after 1 of 3 batches
    val p1 = ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3, maxBatches = 1)
    assert(p1.batchesRun == 1)
    assert(Ledger.read(spark, out).count() == 2) // 2 files per batch
    // resume: the completed batch (2 files) is skipped as a unit
    val p2 = ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3)
    assert(p2.batchesSkipped == 1)
    assert(p1.rows + p2.rows == 180) // remaining files only, no re-processing
    // final outputs equal a single-shot run elsewhere
    val out2 = tmp()
    ValidationJob.run(spark, s"$in/docs", out2, "runX", batches = 1)
    val a = spark.read.parquet(s"$out/verdicts").select("doc_id", "passed", "n_violations")
    val b = spark.read.parquet(s"$out2/verdicts").select("doc_id", "passed", "n_violations")
    assert(a.count() == 180)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val va = spark.read.parquet(s"$out/violations").select("doc_id", "rule_id", "msg")
    val vb = spark.read.parquet(s"$out2/violations").select("doc_id", "rule_id", "msg")
    assert(va.exceptAll(vb).isEmpty && vb.exceptAll(va).isEmpty)
  }

  test("ledger sketches merge across a killed+resumed run to the exact single-pass sketch") {
    val in = tmp(); val out = tmp()
    writeCorpus(s"$in/docs", 180, 6)
    // kill after 1 of 3 batches, then resume: the ledger now holds per-batch
    // sketches written by two separate JVM-level "runs" of the job
    ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3, maxBatches = 1)
    ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3)
    val merged = Ledger.mergedDocIdSketch(spark, out).get
    // KMV merge is exact set union: merged-across-batches must equal a
    // one-shot sketch over the full corpus BYTE-FOR-BYTE
    val whole = spark.read.parquet(s"$in/docs")
      .agg(graft.agg.Kmv.sketch(col("doc_id"), Ledger.SketchK))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, whole))
    // 180 distinct doc_ids < k=1024: the sketch is exact, not an estimate
    assert(graft.agg.KmvBuf.deserialize(merged).estimate == 180.0)
    // an empty ledger merges to None
    assert(Ledger.mergedDocIdSketch(spark, tmp()).isEmpty)
  }

  test("a pre-sketch ledger resumes: schemas merge, unsketched rows surface") {
    import spark.implicits._
    val out = tmp()
    // simulate a ledger written by a build BEFORE docid_sketch existed
    Seq(("run0", "snap0", "file-a", 10L))
      .toDF("run_id", "snapshot_id", "file", "rows_validated")
      .withColumn("completed_at", current_timestamp())
      .write.mode("append").parquet(Ledger.path(out))
    // post-upgrade rows land next to it
    val sk = Seq("d1", "d2").toDF("s")
      .agg(graft.agg.Kmv.sketch($"s", Ledger.SketchK))
      .collect().head.getAs[Array[Byte]](0)
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("run1", "snap0", "file-b", sk)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("run_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("snapshot_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("docid_sketch",
          org.apache.spark.sql.types.BinaryType))))
      .withColumn("completed_at", current_timestamp())
      .write.mode("append").parquet(Ledger.path(out))
    // read must see BOTH files' columns (mergeSchema), not one footer's
    val rows = Ledger.read(spark, out)
    assert(rows.count() == 2 && rows.columns.contains("docid_sketch")
      && rows.columns.contains("rows_validated"))
    // the merged estimate covers only sketched batches — and the audit
    // surfaces exactly how many rows it excludes
    assert(Ledger.unsketchedRows(spark, out) == 1)
    val merged = Ledger.mergedDocIdSketch(spark, out).get
    assert(graft.agg.KmvBuf.deserialize(merged).estimate == 2.0)
    // an entirely pre-upgrade ledger (no sketch column at all) -> None
    val oldOnly = tmp()
    Seq(("run0", "f"))
      .toDF("run_id", "file")
      .withColumn("completed_at", current_timestamp())
      .write.mode("append").parquet(Ledger.path(oldOnly))
    assert(Ledger.mergedDocIdSketch(spark, oldOnly).isEmpty)
    assert(Ledger.unsketchedRows(spark, oldOnly) == 1)
  }

  test("a MID-batch crash (output written, ledger lost) replays without duplicates") {
    val in = tmp(); val out = tmp()
    writeCorpus(s"$in/docs", 180, 6)
    // run one batch fully...
    ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3, maxBatches = 1)
    // ...then simulate a crash BETWEEN the batch's data writes and its
    // ledger append: the verdict/violation files exist, the ledger does not
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(Ledger.path(out)), true)
    assert(spark.read.parquet(s"$out/verdicts").count() > 0) // partial output present
    // resume replays ALL batches (ledger empty); the replayed batch must
    // overwrite its deterministic directory, not append duplicates
    val p2 = ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 3)
    assert(p2.batchesSkipped == 0 && p2.rows == 180)
    assert(spark.read.parquet(s"$out/verdicts").count() == 180)
    assert(Ledger.read(spark, out).count() == 6)
    val viols = spark.read.parquet(s"$out/violations")
    assert(viols.count() == 20 * Synth.violationsPerClass.sum)
  }

  test("a second run_id on the same output dir does not reuse the first run's ledger") {
    val in = tmp(); val out = tmp()
    writeCorpus(s"$in/docs", 90, 3)
    ValidationJob.run(spark, s"$in/docs", out, "runA")
    val again = ValidationJob.run(spark, s"$in/docs", out, "runB")
    assert(again.batchesSkipped == 0 && again.rows == 90)
  }

  test("a batch scans its files once: input records are the batch's docs once, not twice") {
    val in = tmp(); val out = tmp()
    val n = 900L
    writeCorpus(s"$in/docs", n, 3)
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    drainBus()
    spark.sparkContext.addSparkListener(listener)
    val summary =
      try { val s = ValidationJob.run(spark, s"$in/docs", out, "run1", batches = 1); drainBus(); s }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(summary.rows == n && summary.batchesRun == 1)
    // the corpus once; the rest are reads of the persisted frame, one record
    // per cached batch (a few per partition), far fewer than a second scan
    assert(read.get >= n && read.get < n + n / 10,
      s"${read.get} input records for a batch of $n docs")
  }
}
