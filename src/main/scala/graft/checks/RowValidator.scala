package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ValidateScanStrategy

import graft.expr.ValidateSpans
import graft.rules.RuleSet

/** The per-row validation pass: docs(doc_id, spans) -> + violations + passed.
  *
  * Shuffle-free by construction — one projection over the scan; the only
  * columns read are doc_id and spans (nested pruning keeps media-only stages
  * narrower still). Over a columnar parquet read with no override column,
  * the projection is planned as one `ValidateScanExec` that validates
  * straight from the scan's column vectors (`graftbridge.ValidateScanStrategy`,
  * installed on the session by [[withViolations]]); every other source or
  * shape, override columns included, is a projection fused by whole-stage
  * codegen. Scale shape: at 10^12 docs this is embarrassingly parallel, no
  * exchange anywhere.
  *
  * The spans hot path never explodes (north-star invariant); the one
  * violation-per-row fan-out happens only on the violations sink path, after
  * filtering to failing docs (rare by construction).
  */
object RowValidator {

  /** docs + violations:array<struct> + passed:boolean (one row per doc).
    *
    * The kernel consumes only (kind, text), fed as the two extracted field
    * arrays `spans.kind` / `spans.text`: Catalyst's nested-schema pruning
    * then drops spans.media_ref/spans.offset from the parquet scan whenever
    * no downstream operator needs them, and no per-span row is materialized
    * on the way in (`arrays_zip` here was a measured regression — it built a
    * generic row per span; see BENCH/BASELINE.md).
    *
    * Three-scope rule resolution (reference validators.py:27-72):
    * @param rules        record-scope table (plan constant)
    * @param contextRules context scope — when set, field checks resolve
    *                     against it (record-level checks keep `rules`)
    * @param recordRules  optional per-ROW rules column (JSON tag->rule map,
    *                     RuleJson shape) replacing the record scope rowwise
    * @param spanRules    optional per-SPAN rules column (array<string> of
    *                     JSON, parallel to spans), winning per span
    */
  def withViolations(docs: DataFrame, rules: RuleSet = RuleSet.default,
      contextRules: Option[RuleSet] = None, recordRules: Option[Column] = None,
      spanRules: Option[Column] = None): DataFrame = {
    ValidateScanStrategy.install(docs.sparkSession)
    docs
      .withColumn("violations", ValidateSpans(col("spans.kind"), col("spans.text"),
        recordRules.getOrElse(lit(null).cast("string")),
        spanRules.getOrElse(lit(null).cast("array<string>")), rules, contextRules))
      .withColumn("passed", size(col("violations")) === 0)
  }

  /** Per-doc verdicts: (doc_id, passed, n_violations), then the `carry`
    * columns of `docs` (the batch job's `src_file` lineage).
    */
  def verdicts(docs: DataFrame, rules: RuleSet = RuleSet.default,
      carry: Seq[String] = Nil): DataFrame =
    verdictRows(withViolations(docs, rules), carry)

  /** [[verdicts]] of a frame [[withViolations]] already validated. */
  private[checks] def verdictRows(validated: DataFrame, carry: Seq[String]): DataFrame =
    validated.select(Seq(col("doc_id"), col("passed"),
      size(col("violations")).as("n_violations")) ++ carry.map(col): _*)

  /** Violation rows for the sink: one row per violation, failing docs only,
    * with the `carry` columns of `docs` copied onto every row after doc_id.
    * (The fan-out is forced here: the sink's unit IS the violation.)
    *
    * Deliberately NO `where(not(passed))` prefilter, and `explode_outer` +
    * a null filter on the GENERATOR OUTPUT instead of plain `explode`: both
    * a `passed` prefilter and (for non-outer explode) Catalyst's
    * InferFiltersFromGenerate rule end up as a Filter below the violations
    * projection with the validate kernel inlined into its condition — the
    * kernel then runs 3x per row (size-guard, null-guard, projection;
    * subexpression elimination never spans Filter/Project/Generate nodes).
    * The outer generate is exempt from filter inference, and the
    * `v IS NOT NULL` filter references only the generator's output
    * attribute, so it cannot be pushed below the kernel. A plan test in
    * RowValidatorSpec pins the single-evaluation shape.
    */
  def violations(docs: DataFrame, rules: RuleSet = RuleSet.default,
      carry: Seq[String] = Nil): DataFrame =
    violationRows(withViolations(docs, rules), carry)

  /** [[violations]] of a frame [[withViolations]] already validated. */
  private[checks] def violationRows(validated: DataFrame, carry: Seq[String]): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    validated
      .select(keys :+ explode_outer(col("violations")).as("v"): _*)
      .where(col("v").isNotNull)
      .select(keys :+ col("v.*"): _*)
  }
}
