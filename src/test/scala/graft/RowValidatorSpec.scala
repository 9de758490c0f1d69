package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.checks.RowValidator
import graft.gen.{Fixtures, Synth}

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
}
