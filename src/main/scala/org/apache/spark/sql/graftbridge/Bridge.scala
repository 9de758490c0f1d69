package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Column <-> catalyst Expression bridge. Spark 4.x made this interop
  * package-private (`org.apache.spark.sql.classic.ExpressionUtils`), so the
  * engine exposes it from inside the org.apache.spark.sql namespace — the
  * standard pattern for libraries shipping custom Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A call of the method `method` of the Scala object `kernels` on `args`,
    * as Spark's own `StaticInvoke`: generated code calls the object's static
    * forwarder directly, interpreted eval calls it by reflection. The
    * method's parameters take the arguments' internal classes (`ArrayData`,
    * `UTF8String`, `InternalRow`, `Array[Byte]`, a primitive, or a
    * [[constant]]'s class) and it returns `dataType`'s. A null argument
    * makes the result null without a call; `returnsNull` says the method
    * itself may return null. Alias the column: a `StaticInvoke` has no SQL
    * name of its own.
    */
  def invoke(kernels: AnyRef, method: String, dataType: DataType, args: Seq[Column],
      returnsNull: Boolean = false): Column =
    column(StaticInvoke(kernels.getClass, dataType, method, args.map(expression),
      returnNullable = returnsNull))

  /** A plan-time constant for an [[invoke]] parameter of `v`'s class;
    * generated code reads it from the plan's reference objects.
    */
  def constant(v: AnyRef): Column = column(Literal(v, ObjectType(v.getClass)))

  /** Folds every row of `df` into one small value: each task folds its
    * partition's rows into its own copy of `zero` with `add`, and the driver
    * combines the tasks' values with `merge` (`RDD.aggregate` over the
    * plan's internal rows). The fold is one job and adds no exchange; an
    * exchange inside `df`'s own plan still runs as usual (under AQE, as its
    * own job first). It runs as a SQL execution of `df`'s plan, so
    * `QueryExecutionListener`s, SQL metrics and the UI see the plan as they
    * see a `collect`. Every task ships its value to the driver, so the value
    * must stay small: a few counters or a short array. `add` may mutate and
    * return its accumulator, but must read what it needs from the row before
    * returning, since the scan may reuse the row object.
    */
  def foldRows[A: ClassTag](df: Dataset[_])(zero: A)(
      add: (A, InternalRow) => A, merge: (A, A) => A): A = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foldRows")) {
      qe.toRdd.aggregate(zero)(add, merge)
    }
  }

  /** The reliable-checkpoint file of a Dataset returned by
    * `Dataset.checkpoint(...)`, once an action has materialized it.
    * `Dataset.checkpoint` wraps the checkpointed internal RDD in a
    * `LogicalRDD`, so true checkpoint OWNERSHIP is readable from the plan —
    * the race-free alternative to diffing the (SparkContext-global)
    * checkpoint directory's listing, which adopts any concurrent job's
    * dirs created in the same window.
    */
  def checkpointFile(df: org.apache.spark.sql.Dataset[_]): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten
}
