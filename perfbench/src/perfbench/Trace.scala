package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call: a named interval with the span that caused it. */
final case class TraceSpan(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Option[Int], runId: String)

/** Spark-side counts of everything that ran while one span was the
  * innermost open span. Filled on the listener-bus thread; read only after
  * the bus has been drained at the span's end.
  */
final class OpStats {
  var jobs = 0
  var stages = 0
  var fileScans = 0
  var exchanges = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var recordsRead = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** output path -> summed duration of the SQL executions that wrote it */
  val writeNs = mutable.Map.empty[String, Long]

  /** max/median task time of the worst stage with at least two tasks
    * (1.0 when every stage ran a single task).
    */
  def taskSkew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val mid = s.size / 2
      val median = if (s.size % 2 == 1) s(mid).toDouble else (s(mid - 1) + s(mid)) / 2.0
      s.last / math.max(median, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def writeSeconds(pathPart: String): Double =
    writeNs.collect { case (p, ns) if p.contains(pathPart) => ns }.sum / 1e9
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * metrics of each span from a SparkListener and a QueryExecutionListener.
  *
  * Disabled, `span` only runs its body, so untraced runs pay nothing. Enabled,
  * each span's end drains the listener bus (after its end time is taken), so
  * every job, task and query-execution event of the span is attributed to it
  * before the next span opens. Spans stay in memory until [[spansJson]].
  */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[TraceSpan]
  private var open = List.empty[(Int, String, Long)]
  private val stats = mutable.LinkedHashMap.empty[String, OpStats]
  @volatile private var current: OpStats = new OpStats

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = current.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = current
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.executorCpuNs += m.executorCpuTime
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private object PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      val plan = qe.executedPlan
      s.fileScans += collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.size
      s.exchanges += collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
      (qe.logical +: qe.commandExecuted +: Nil).iterator
        .flatMap(_.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString })
        .take(1)
        .foreach(p => s.writeNs(p) = s.writeNs.getOrElse(p, 0L) + durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
  }

  /** Wait until the listener bus has delivered every posted event. The bus
    * accessor is not public API, hence reflection.
    */
  private def drainBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drainBus()
      val id = spans.size + open.size
      val outer = current
      val mine = stats.getOrElseUpdate(name, new OpStats)
      open = (id, name, System.nanoTime()) :: open
      current = mine
      var end = 0L
      try { val r = body; end = System.nanoTime(); r }
      finally {
        if (end == 0L) end = System.nanoTime()
        drainBus()
        val (_, _, start) = open.head
        open = open.tail
        current = outer
        spans += TraceSpan(id, name, start, end, open.headOption.map(_._1), runId)
        System.err.println(f"perfbench span $runId $name ${(end - start) / 1e9}%.3fs")
      }
    }

  /** (GC seconds, old-gen peak MB) of each [[jvmGauged]] call. */
  val gauges = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Runs `body`, recording the JVM's GC time and old-gen peak during it. */
  def jvmGauged[T](body: => T): T =
    if (!enabled) body
    else {
      val (r, g) = JvmGauge.around(body)
      gauges += g
      r
    }

  def opStats(name: String): OpStats = stats.getOrElse(name, new OpStats)

  /** Durations of every closed span with this name, in seconds. */
  def seconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  /** All spans as JSON, each with its self time (duration minus the part
    * covered by its direct children).
    */
  def spansJson: String = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => s.parent.foreach(p => childNs(p) += s.endNs - s.startNs))
    spans.sortBy(_.id).map { s =>
      val parent = s.parent.map(_.toString).getOrElse("null")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ns":${s.endNs - s.startNs - childNs(s.id)},""" +
        s""""parent":$parent,"run_id":${Json.str(s.runId)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(PlanListener)
  }
}

/** JVM-wide GC time and old-generation peak, sampled around one traced call. */
object JvmGauge {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Runs `body`, also returning (GC seconds, old-gen peak MB) during it. */
  def around[T](body: => T): (T, (Double, Double)) = {
    oldGen.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val r = body
    val peak = oldGen.map(_.getPeakUsage.getUsed).sum
    (r, ((gcMs - gc0) / 1e3, peak / (1024.0 * 1024.0)))
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
