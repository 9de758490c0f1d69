package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One shared local session for the whole test JVM (Test / fork := true).
  * Generated code that does not compile fails the test that ran it, instead
  * of logging a WARN and running interpreted: no whole-stage fallback, and
  * projections and predicates are built by codegen only.
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.fallback", "false")
    .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    .getOrCreate()
}

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = TestSpark.spark

  /** Waits until the listener bus has delivered every posted event (the bus
    * accessor is not public API, hence reflection).
    */
  def drainBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Every node of the FINAL executed physical plan, with the adaptive
    * wrappers unwrapped: `AdaptiveSparkPlanExec` hides its re-optimized
    * tree from `TreeNode.collect` (the final plan is not among its
    * children), and materialized stages wrap their exchanges in
    * `QueryStageExec`. Run an action on the Dataset FIRST — before
    * execution the adaptive plan is still the initial one. This lets
    * plan-shape tests assert the same invariants AQE-ON that they pin
    * AQE-OFF: AQE re-plans exchanges, so an AQE-off pin can miss exactly
    * the divergence it exists to prevent.
    */
  def finalPlanNodes(df: Dataset[_]): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => q +: walk(q.plan)
      case other                    => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
