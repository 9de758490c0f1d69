package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftbridge.ValidateScanExec

import graft.checks.RowValidator
import graft.expr.ValidateSpans
import graft.gen.{Fixtures, Synth}
import graft.schema.Doc

/** End-to-end Spark path: ValidateSpans expression (codegen) over DataFrames. */
class RowValidatorSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("golden fixtures validate through the Spark expression") {
    import spark.implicits._
    val docs = Seq(Fixtures.validDoc, Fixtures.invalidDoc).toDF()
    val out = RowValidator.withViolations(docs).orderBy($"doc_id")

    val byId = out.collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(byId("on1381158740").getAs[Boolean]("passed"))
    assert(!byId("1234567890").getAs[Boolean]("passed"))

    val vs = RowValidator.violations(docs)
      .select($"rule_id", array_join($"loc", "/"), $"msg")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(vs == Fixtures.expectedInvalid)
  }

  test("synthetic corpus: per-class verdicts and violation counts are closed-form") {
    val n = 900L
    val docs = Synth.corpusDF(spark, n)
    val verdicts = RowValidator.verdicts(docs)
    assert(verdicts.count() == n)
    assert(verdicts.where(col("passed")).count() == n / Synth.NumClasses)

    val counts = RowValidator.violations(docs)
      .groupBy("rule_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perClass = n / Synth.NumClasses
    for (cls <- 1 until Synth.NumClasses) {
      val rid = Synth.ruleIdPerClass(cls)
      val expected = perClass * (if (cls == 5) 2 else 1)
      assert(counts(rid) == expected, s"class $cls rule $rid")
    }
    assert(counts.values.sum == perClass * Synth.violationsPerClass.sum)
  }

  test("validation plan is shuffle-free and whole-stage-codegen'd, with no Generate node") {
    val df = RowValidator.withViolations(Synth.corpusDF(spark, 90))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"explode in the hot path:\n$plan")
    // the validate projection must sit inside a WholeStageCodegen span
    // (executedPlan toString marks fused operators with "*(n)")
    val validateLine = plan.linesIterator.find(_.contains("validate_marc")).get
    assert(validateLine.contains("*("), s"validate not codegen-fused:\n$plan")
  }

  test("verdicts read only doc_id+spans from a parquet scan (column pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    Synth.corpusDF(spark, 90)
      .withColumn("extra_fat_column", lit("x" * 100))
      .write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val plan = RowValidator.verdicts(read).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("extra_fat_column"), s"pruning failed:\n$plan")
  }

  test("validate kernel is evaluated once per row (no Filter duplication)") {
    import spark.implicits._
    // one ValidateSpans occurrence per optimized-plan NODE is the property
    // that matters: runtime subexpression elimination collapses duplicates
    // WITHIN a Project/Filter but never ACROSS nodes, so a filter on
    // `passed` pushed below the violations projection silently doubles the
    // hot kernel (a round-3 plan audit found it 4x in one Filter node)
    def kernelNodes(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case n => n.expressions.map(
          _.collect { case v: graft.expr.ValidateSpans => v }.size).sum
      }.filter(_ > 0)
    val docs = Synth.corpusDF(spark, 90)

    // violations sink path: exactly ONE occurrence in the whole plan (the
    // Generate's input projection) — the old where(not(passed)) shape had 2+
    val vioNodes = kernelNodes(RowValidator.violations(docs))
    assert(vioNodes.sum == 1, s"kernel evaluated ${vioNodes.sum}x in violations plan")

    // corpus-verdict aggregate shape (marc_corpus_verdicts): still one
    val aggNodes = kernelNodes(
      RowValidator.violations(docs).groupBy($"rule_id").count())
    assert(aggNodes.sum == 1, s"kernel evaluated ${aggNodes.sum}x in agg plan")

    // the batch job's violation sink (with src_file lineage) shares the same
    // one-evaluation shape
    val jobNodes = kernelNodes(RowValidator.violations(
      docs.withColumn("src_file", input_file_name()), graft.rules.RuleSet.default,
      Seq("src_file")))
    assert(jobNodes.sum == 1, s"kernel evaluated ${jobNodes.sum}x in job sink plan")

    // verdicts: all occurrences must sit in a single node so runtime
    // subexpression elimination applies (passed + n_violations share one
    // Project)
    val verNodes = kernelNodes(RowValidator.verdicts(docs))
    assert(verNodes.size == 1,
      s"kernel spread across ${verNodes.size} plan nodes in verdicts plan")
  }

  test("every validate_marc has four children and sits in a whole-stage-codegen node") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    // (kernel, fused) per occurrence: fused while the walk is below a
    // WholeStageCodegenExec and above its next InputAdapter, i.e. the node
    // prints with a "*(n)" prefix
    def placements(p: SparkPlan, fused: Boolean): Seq[(graft.expr.ValidateSpans, Boolean)] = {
      val here = p.expressions.flatMap(
        _.collect { case v: graft.expr.ValidateSpans => v }).map(_ -> fused)
      val below = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter          => false
        case _                        => fused
      }
      here ++ p.children.flatMap(placements(_, below))
    }
    val docs = Synth.corpusDF(spark, 90).withColumn("rr", lit(null).cast("string"))
    val plans = Map(
      "verdicts" -> RowValidator.verdicts(docs),
      "violations" -> RowValidator.violations(docs),
      "override" -> RowValidator.withViolations(docs, recordRules = Some(col("rr"))))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val found = placements(plan, fused = false)
      assert(found.nonEmpty, s"$name: no validate_marc in\n$plan")
      found.foreach { case (v, fused) =>
        assert(v.children.size == 4, s"$name: $v has ${v.children.size} children")
        assert(fused, s"$name: $v is not codegen-fused:\n$plan")
      }
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(docs: org.apache.spark.sql.DataFrame, prefix: String,
      dictionary: Boolean = true): String = {
    val dir = tempDir(prefix)
    docs.write.mode("overwrite").option("parquet.enable.dictionary", dictionary).parquet(dir)
    dir
  }

  /** Whether any column chunk of the parquet files under `dir` has a
    * dictionary page.
    */
  private def hasDictionaryPages(dir: String): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try reader.getFooter.getBlocks.asScala.exists(_.getColumns.asScala.exists(_.hasDictionaryPage))
      finally reader.close()
    }
  }

  private def nodes(df: org.apache.spark.sql.DataFrame) =
    finalPlanNodes(df)

  private def scanNodes(df: org.apache.spark.sql.DataFrame): Seq[ValidateScanExec] =
    nodes(df).collect { case v: ValidateScanExec => v }

  /** Runs `body` with the parquet vectorized reader off: today's row plan. */
  private def rowReader[T](body: => T): T = {
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try body finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
  }

  test("over a parquet read, validate_marc is one ValidateScanExec over a batched scan") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec}
    val dir = writeDocs(Synth.corpusDF(spark, 90), "graft-vscan")
    val plans = Map(
      "verdicts" -> RowValidator.verdicts(spark.read.parquet(dir)),
      "violations" -> RowValidator.violations(spark.read.parquet(dir)))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val Seq(node) = scanNodes(df)
      node.child match {
        case scan: FileSourceScanExec =>
          assert(scan.supportsColumnar && scan.toString.contains("Batched: true"), s"$name:\n$plan")
          // nested pruning as before: only doc_id and the two span fields
          assert(scan.toString.contains(
            "ReadSchema: struct<doc_id:string,spans:array<struct<kind:string,text:string>>>"),
            s"$name:\n$plan")
        case other => fail(s"$name: ValidateScanExec over $other")
      }
      assert(nodes(df).collect { case c: ColumnarToRowExec => c }.isEmpty, s"$name:\n$plan")
      val kernels = nodes(df).flatMap(_.expressions.flatMap(_.collect { case v: ValidateSpans => v }))
      assert(kernels.size == 1, s"$name: ${kernels.size} kernel calls in\n$plan")
    }
  }

  test("override columns, file lineage, row sources and the row reader keep the codegen Project") {
    val corpus = Synth.corpusDF(spark, 90)
    val dir = writeDocs(corpus.withColumn("rr", lit(null).cast("string")), "graft-vscan-rr")
    val orc = tempDir("graft-vscan-orc")
    corpus.write.mode("overwrite").orc(orc)
    def assertCodegenProject(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(scanNodes(df).isEmpty, s"$name planned ValidateScanExec:\n$plan")
      val line = plan.linesIterator.find(_.contains("validate_marc")).get
      assert(line.contains("*(") && line.contains("Project ["), s"$name:\n$plan")
    }
    assertCodegenProject("override", RowValidator.withViolations(spark.read.parquet(dir),
      recordRules = Some(col("rr"))))
    assertCodegenProject("lineage", RowValidator.verdicts(
      spark.read.parquet(dir).withColumn("src_file", input_file_name()), carry = Seq("src_file")))
    assertCodegenProject("row source", RowValidator.verdicts(corpus))
    assertCodegenProject("orc", RowValidator.verdicts(spark.read.orc(orc)))
    rowReader(assertCodegenProject("row reader", RowValidator.verdicts(spark.read.parquet(dir))))
  }

  test("ValidateScanExec rows equal the row reader's rows (synth, fixtures, adversarial)") {
    import spark.implicits._
    // one doc with null spans, one with none, and docs with null span
    // elements (a null struct: null kind and text), next to the hand-built
    // and generated edge cases; each corpus is written dictionary-encoded
    // and plain, since a large file falls back to plain pages
    val valid = Fixtures.validDoc.spans
    val nullElements = Seq(
      valid.take(1) :+ null,
      valid.patch(1, Seq(null), 0),
      valid.patch(2, Seq(null, null), 0),
      null +: valid,
      Seq(null))
    val edge = (FastCheckSpec.adversarial ++ FastCheckSpec.generated.take(500) ++ nullElements)
      .zipWithIndex.map { case (spans, i) => Doc(s"adv$i", spans) } ++
      Seq(Doc("null-spans", null), Doc("no-spans", Nil))
    val corpora = Map(
      "synth" -> Synth.corpusDF(spark, 900),
      "fixtures" -> Seq(Fixtures.validDoc, Fixtures.invalidDoc).toDF(),
      "adversarial" -> edge.toDF())
    for ((corpus, docs) <- corpora; dictionary <- Seq(true, false)) {
      val name = s"$corpus (dictionary $dictionary)"
      val dir = writeDocs(docs, s"graft-vscan-$corpus", dictionary)
      assert(hasDictionaryPages(dir) == dictionary, name)
      def rows(df: => org.apache.spark.sql.DataFrame): Map[org.apache.spark.sql.Row, Int] =
        df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
      // the last output inlines the call: Project [size(validate_marc(...)) AS n_violations]
      val outputs = Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        RowValidator.verdicts(_), RowValidator.violations(_), RowValidator.withViolations(_),
        RowValidator.verdicts(_).select(col("n_violations")))
      outputs.foreach { out =>
        val node = out(spark.read.parquet(dir))
        assert(scanNodes(node).size == 1, s"$name: no ValidateScanExec")
        val got = rows(node)
        val want = rowReader {
          val df = out(spark.read.parquet(dir))
          assert(scanNodes(df).isEmpty)
          rows(df)
        }
        assert(got == want, s"$name: ${(got.keySet diff want.keySet).take(3)} vs " +
          s"${(want.keySet diff got.keySet).take(3)}")
      }
    }
  }

  test("ValidateScanExec metrics: clean + full = rows, full = failing docs") {
    val n = 900L
    val dir = writeDocs(Synth.corpusDF(spark, n), "graft-vscan-metrics")
    val verdicts = RowValidator.verdicts(spark.read.parquet(dir))
    val out = verdicts.collect()
    val m = scanNodes(verdicts).head.metrics.map { case (k, v) => k -> v.value }
    val failing = out.count(!_.getAs[Boolean]("passed"))
    assert(m("fastClean") + m("fullPath") == n, m)
    assert(m("fullPath") == failing, m)
    assert(m("violations") == out.map(_.getAs[Int]("n_violations").toLong).sum, m)
    assert(m("numOutputRows") == n, m)
  }
}
