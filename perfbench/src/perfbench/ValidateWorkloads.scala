package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.checks.{RowValidator, ValidationJob}
import graft.expr.{FastCheck, MarcValidator, ValidatorKernel}
import graft.gen.Synth
import graft.io.{Ledger, ParquetSnapshotIO}
import graft.rules.RuleSet
import graft.schema.{Doc, Span}

/** The MARC corpus both validate workloads read, and its expected counts. */
object MarcCorpus {

  /** Seed s generates ids [s * IdStride, s * IdStride + n): seeds share no doc. */
  val IdStride = 1000000000L

  /** Docs in the direct-kernel samples of the traced run. */
  val SampleDocs = 20000

  final case class Expected(docs: Long, failed: Long, violations: Long,
      perRule: Map[String, Long])

  def firstId(seed: Long): Long = seed * IdStride

  def write(spark: SparkSession, seed: Long, docs: Long, files: Int,
      defectPermille: Int, dir: String): Unit = {
    import spark.implicits._
    val first = firstId(seed)
    spark.range(first, first + docs, 1, files)
      .map(id => Synth.docMixed(id, defectPermille))
      .write.parquet(dir)
  }

  /** Closed-form counts from the generator's class assignment: `docMixed`
    * builds each doc with the striped generator at id `id * 9 + class`, so
    * a doc's defect class is its numeric id mod `Synth.NumClasses`, and each
    * class contributes `Synth.violationsPerClass` violations of
    * `Synth.ruleIdPerClass`. Only doc ids are read; the validator is not.
    */
  def expected(spark: SparkSession, dir: String): Expected = {
    val byClass = spark.read.parquet(dir)
      .select(pmod(substring(col("doc_id"), 5, 40).cast("long"),
        lit(Synth.NumClasses.toLong)).as("cls"))
      .groupBy(col("cls")).count()
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val perRule = byClass.toSeq.filter(_._1 != 0)
      .groupMapReduce { case (c, _) => Synth.ruleIdPerClass(c) } {
        case (c, n) => n * Synth.violationsPerClass(c) }(_ + _)
    Expected(
      docs = byClass.values.sum,
      failed = byClass.collect { case (c, n) if c != 0 => n }.sum,
      violations = perRule.values.sum,
      perRule = perRule)
  }

  def fingerprint(seed: Long, docs: Long, defectPermille: Int, rows: Long): String = {
    val step = math.max(1L, docs / 64)
    val sample = (0L until 64L).iterator.map(k => Synth.docMixed(firstId(seed) + k * step, defectPermille))
    s"rows=$rows;sample=${Workload.sampleHash(sample)}"
  }

  /** The first [[SampleDocs]] docs of the seed, built in this process. */
  def sample(seed: Long, defectPermille: Int): Array[Doc] =
    Array.tabulate(SampleDocs)(k => Synth.docMixed(firstId(seed) + k, defectPermille))

  /** The (kinds, texts) arrays the kernel receives for each doc. */
  def kernelInput(docs: Array[Doc]): Array[(ArrayData, ArrayData)] = docs.map { d =>
    def arr(f: Span => String): ArrayData =
      new GenericArrayData(d.spans.map(s => UTF8String.fromString(f(s)): Any).toArray)
    (arr(_.kind), arr(_.text))
  }

  def violationsPerRule(violations: DataFrame): Map[String, Long] =
    violations.groupBy(col("rule_id")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** (docs, failed, violations) of a verdict frame. */
  def verdictTotals(verdicts: DataFrame): (Long, Long, Long) = {
    val r = verdicts.agg(count(lit(1)), count(when(not(col("passed")), 1)),
      coalesce(sum(col("n_violations")), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def checkTotals(got: (Long, Long, Long), exp: Expected): Seq[String] =
    Workload.mismatch("docs", got._1, exp.docs) ++
      Workload.mismatch("failed docs", got._2, exp.failed) ++
      Workload.mismatch("violations", got._3, exp.violations)
}

/** Read path at the headline's shape: a mostly clean corpus over many files,
  * validated into a pass/fail aggregate. Parquet decode of the two span
  * columns and the FastCheck clean proof do most of the work.
  */
object ValidateHealthy extends Workload {
  val name = "validate_healthy"
  val Docs = 300000L
  val Files = 32
  /** 2% of docs carry a defect, as in the repo's headline corpus. */
  val DefectPermille = 20

  def setup(spark: SparkSession, seed: Long, dir: String, cores: Int): Prepared = {
    val fastCheck = new FastCheck(RuleSet.default)
    val corpus = s"$dir/corpus"
    MarcCorpus.write(spark, seed, Docs, Files, DefectPermille, corpus)
    val exp = MarcCorpus.expected(spark, corpus)
    new Prepared {
      type Out = (Long, Long, Long)
      val records: Long = Docs
      val fingerprint: String = MarcCorpus.fingerprint(seed, Docs, DefectPermille, exp.docs)

      def run(tr: Tracer, iter: Int): Out = tr.span("verdicts") {
        MarcCorpus.verdictTotals(RowValidator.verdicts(spark.read.parquet(corpus)))
      }

      def check(out: Out): Seq[String] = MarcCorpus.checkTotals(out, exp)

      override def finalChecks(): Seq[String] = Workload.mismatch("violations per rule", 
        MarcCorpus.violationsPerRule(RowValidator.violations(spark.read.parquet(corpus))),
        exp.perRule)

      def layers(tr: Tracer, out: Out): Seq[(String, Metric)] = {
        val scans = (1 to 3).map { _ =>
          tr.span("scan") {
            spark.read.parquet(corpus)
              .agg(sum(size(col("spans.kind"))), sum(size(col("spans.text")))).collect()
          }
        }
        val scanS = Workload.median(tr.seconds("scan"))
        val input = MarcCorpus.kernelInput(MarcCorpus.sample(seed, DefectPermille))
        var clean = 0
        val ns = tr.span("fastcheck") {
          Workload.nsPerItem(input.length) {
            clean = 0
            input.foreach { case (k, t) => if (fastCheck.clean(k, t)) clean += 1 }
          }
        }
        Seq(
          "io.scan_s" -> Metric(scanS, "s", scans.size),
          "io.scan_rows_per_s" -> Metric(exp.docs / scanS, "1/s", scans.size),
          "expr.fastcheck_ns_per_doc" -> ns,
          "expr.fastcheck_clean_ratio" -> Metric(clean.toDouble / input.length, "ratio", input.length))
      }
    }
  }
}

/** Write path through the same layer: every doc is defective, so FastCheck
  * proves nothing, and the full validator, message rendering, the violation
  * explode, the parquet writes and the ledger do the work.
  */
object ValidateSink extends Workload {
  val name = "validate_sink"
  val Docs = 24000L
  val Files = 8
  val Batches = 4
  val DefectPermille = 1000

  def setup(spark: SparkSession, seed: Long, dir: String, cores: Int): Prepared = {
    val kernel = new ValidatorKernel(RuleSet.default)
    val corpus = s"$dir/corpus"
    MarcCorpus.write(spark, seed, Docs, Files, DefectPermille, corpus)
    val exp = MarcCorpus.expected(spark, corpus)
    new Prepared {
      final case class Job(outDir: String, runId: String, summary: ValidationJob.RunSummary)
      type Out = Job
      val records: Long = Docs
      val fingerprint: String = MarcCorpus.fingerprint(seed, Docs, DefectPermille, exp.docs)

      def run(tr: Tracer, iter: Int): Out = {
        val outDir = s"$dir/out-$iter"
        val runId = s"bench-$iter"
        Job(outDir, runId, tr.span("validation_job") {
          ValidationJob.run(spark, corpus, outDir, runId, batches = Batches)
        })
      }

      def check(out: Out): Seq[String] = {
        val s = out.summary
        val verdicts = spark.read.parquet(s"${out.outDir}/verdicts/run_id=${out.runId}")
        val violations = spark.read.parquet(s"${out.outDir}/violations/run_id=${out.runId}")
        val ledger = Ledger.read(spark, out.outDir).where(col("run_id") === out.runId)
        Workload.mismatch("summary rows", s.rows, exp.docs) ++
          Workload.mismatch("summary violations", s.violations, exp.violations) ++
          Workload.mismatch("batches run", s.batchesRun, Batches) ++
          MarcCorpus.checkTotals(MarcCorpus.verdictTotals(verdicts), exp) ++
          Workload.mismatch("violations per rule", MarcCorpus.violationsPerRule(violations), exp.perRule) ++
          Workload.mismatch("ledger rows", ledger.count(), Files) ++
          Workload.mismatch("ledger files", ledger.select("file").distinct().count(), Files)
      }

      override def release(out: Out): Unit = Workload.deleteTree(new java.io.File(out.outDir))

      def layers(tr: Tracer, out: Out): Seq[(String, Metric)] = {
        val sinkBytes = Workload.bytesUnder(spark, out.outDir)
        val job = tr.opStats("validation_job")
        val jobs = tr.seconds("validation_job").size
        val noop = tr.span("resume_noop") {
          ValidationJob.run(spark, corpus, out.outDir, out.runId, batches = Batches)
        }
        if (noop.batchesRun != 0 || noop.batchesSkipped != Batches)
          throw new IllegalStateException(s"resume with the same run id was not a no-op: $noop")
        (1 to 3).foreach(i => tr.span("pin_snapshot") {
          ParquetSnapshotIO.pinSnapshot(spark, corpus, s"${out.outDir}/pin-probe-$i")
        })
        val verdicts = tr.span("verdicts") {
          MarcCorpus.verdictTotals(RowValidator.verdicts(spark.read.parquet(corpus)))
        }
        MarcCorpus.checkTotals(verdicts, exp).foreach(e => throw new IllegalStateException(e))

        val docs = MarcCorpus.sample(seed, DefectPermille)
        val rules = RuleSet.default
        val fastCheck = new FastCheck(rules)
        val input = MarcCorpus.kernelInput(docs).filterNot { case (k, t) => fastCheck.clean(k, t) }
        var violations = 0L
        val kernelNs = tr.span("kernel_full") {
          Workload.nsPerItem(input.length) { input.foreach { case (k, t) => kernel.validate(k, t) } }
        }
        val marcNs = tr.span("marc_validator") {
          Workload.nsPerItem(docs.length) {
            violations = 0L
            docs.foreach(d => violations += MarcValidator.validate(d.spans, rules).size)
          }
        }
        Seq(
          "expr.kernel_full_ns_per_doc" -> kernelNs,
          "expr.marc_validator_ns_per_doc" -> marcNs,
          "expr.violations_per_doc" -> Metric(violations.toDouble / docs.length, "count", docs.length),
          "checks.verdicts_s" -> Metric(tr.seconds("verdicts").last, "s"),
          "checks.verdicts_write_s" -> Metric(job.writeSeconds("/verdicts/") / jobs, "s", jobs),
          "checks.violations_write_s" -> Metric(job.writeSeconds("/violations/") / jobs, "s", jobs),
          "io.ledger_append_s" -> Metric(job.writeSeconds("/ledger") / jobs, "s", jobs),
          "io.pin_snapshot_s" -> Metric(Workload.median(tr.seconds("pin_snapshot")), "s", 3),
          "io.resume_noop_s" -> Metric(tr.seconds("resume_noop").last, "s"),
          "io.records_read_per_doc" -> Metric(job.recordsRead.toDouble / jobs / exp.docs, "count", jobs),
          "io.sink_bytes_per_doc" -> Metric(sinkBytes.toDouble / exp.docs, "B"))
      }
    }
  }
}
