package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.tools.Control

/** One benchmark run of one workload, in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--traces DIR] [--cores C]
  *
  * Untraced (`--trace 0`): set up [[SetupReps]] times (session start, rule
  * tables, input generation from the seed) and report the median as
  * `setup_s`; time the first iteration as `cold_s`; run [[WarmUpIters]]
  * untimed warm-up iterations; then iterate for S seconds and report the
  * median as `wall_s`. Every iteration's output is
  * checked. A pure-CPU control brackets the iterations.
  *
  * Traced (`--trace 1`): the same set-up, cold and warm-up iterations, then
  * untraced and traced iterations in alternating order for S/2 seconds
  * (at least two pairs); the median of the traced/untraced ratios of the
  * pairs is the tracing overhead. Then every workload in turn runs
  * [[TracedIters]] traced iterations and its layer calls, so each per-layer
  * metric is measured on the workload that exercises its layer. Spans go
  * to a JSON file under `--traces`.
  *
  * The result is one JSON object written to `--out`.
  */
object Main {
  val SetupReps = 3
  val TracedIters = 1
  /** Untimed warm-up iterations before the timed ones: warm iteration
    * times still fall for several iterations after the cold one on a 4-core
    * host, while the JIT compiles Spark's planner and operators (several
    * hundred methods per iteration on `table_checks`). A fixed count, not a
    * time, so every run starts timing after the same work.
    */
  val WarmUpIters = 8
  /** Control.hashRate work per core: about 0.2 s per leg on a 4-core host. */
  val ControlPerCore = 25000000L
  /** Capacity of Spark's cache of compiled generated classes. At Spark's
    * default of 100, one `table_checks` iteration (29 jobs) evicts its own
    * classes: every warm iteration compiled 83 classes again with Janino
    * and the JIT compiled them anew, which made warm times depend on how
    * far the JIT had got. Code generation stays in `cold_s`; the warm
    * iterations compile nothing (`janino_compiles` in the report).
    */
  val CodegenCacheEntries = 1000
  /** JVM gauges are reported for the write path, where allocation is heaviest. */
  val JvmGaugeWorkload = "validate_sink"

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, traces: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"),
      m.getOrElse("traces", need("work")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (steal, total) CPU time over all CPUs from /proc/stat, in clock ticks;
    * None where the file is missing. Steal is time a virtual CPU was ready
    * but the hypervisor ran something else.
    */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(new File("/proc/stat").toPath).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      Some((if (f.length == 8) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  private val jvmStart = System.nanoTime()

  /** CPU time of all the JVM's threads so far. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  /** Time the JIT compilers have spent so far. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Generated classes Spark has compiled with Janino so far. */
  private def janinoCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Progress line on stderr (the runner shows it when a run fails). */
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${secondsSince(jvmStart)}%8.2fs $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload.byName(o.workload)
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    val report = mutable.LinkedHashMap.empty[String, String]

    /** Runs `f`, counting it as one attempted operation that failed when it
      * throws or returns check failures.
      */
    def attempt(what: String)(f: => Seq[String]): Unit = {
      attempted += 1
      val errs =
        try f catch { case e: Throwable => Seq(s"threw $e") }
      if (errs.nonEmpty) failed += 1
      errs.foreach { e =>
        errors += s"$what: $e"
        System.err.println(s"perfbench: CHECK FAILED $what: $e")
      }
    }

    var iterations = 0
    // per iteration, in order: process CPU time, JIT compile time, Janino compiles
    val cpuSeconds = mutable.ArrayBuffer.empty[Double]
    val jitSeconds = mutable.ArrayBuffer.empty[Double]
    val compiles = mutable.ArrayBuffer.empty[Long]

    /** One checked iteration; returns its run time when it succeeded. */
    def iterate(p: Prepared, tr: Tracer)(keep: p.Out => Unit): Option[Double] = {
      val i = iterations
      iterations += 1
      var secs: Option[Double] = None
      attempt(s"${tr.runId} iteration $i") {
        val t0 = System.nanoTime()
        val (c0, j0, k0) = (processCpuNs(), jitMs(), janinoCompiles())
        val out = tr.jvmGauged(p.run(tr, i))
        val s = secondsSince(t0)
        cpuSeconds += (processCpuNs() - c0) / 1e9
        jitSeconds += (jitMs() - j0) / 1e3
        compiles += janinoCompiles() - k0
        log(f"${tr.runId} iteration $i: $s%.3fs")
        try {
          val errs = p.check(out)
          if (errs.isEmpty) { secs = Some(s); keep(out) }
          errs
        } finally p.release(out)
      }
      secs
    }

    /** Iterations until `seconds` have passed (at least one). */
    def warmLoop(p: Prepared, tr: Tracer, seconds: Double): Seq[Double] = {
      val times = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      do times ++= iterate(p, tr)(_ => ()) while (secondsSince(t0) < seconds)
      times.toSeq
    }

    val inputs = s"${o.work}/inputs"
    var spark: SparkSession = null
    var prepared: Prepared = null
    val setupTimes = (1 to (if (o.trace) 1 else SetupReps)).map { _ =>
      if (spark != null) spark.stop()
      Workload.deleteTree(new File(inputs))
      val t0 = System.nanoTime()
      spark = session(o)
      prepared = w.setup(spark, o.seed, s"$inputs/${w.name}", o.cores)
      log(s"set up ${w.name}: ${prepared.fingerprint}")
      secondsSince(t0)
    }
    def untraced(ws: Workload) = new Tracer(spark, s"${ws.name}-seed${o.seed}", enabled = false)

    /** Untraced and traced iterations, alternating which goes first, until
      * `seconds` have passed (at least two pairs), so both sit at the same
      * point of the JIT curve. Returns the untraced times and the traced
      * times of the pairs in which both succeeded.
      */
    def overheadPairs(seconds: Double): (Seq[Double], Seq[Double]) = {
      val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
      def plain() = iterate(prepared, untraced(w))(_ => ())
      def traced() = {
        val tr = new Tracer(spark, s"${w.name}-seed${o.seed}-overhead", enabled = true)
        try iterate(prepared, tr)(_ => ()) finally tr.close()
      }
      val t0 = System.nanoTime()
      var k = 0
      do {
        val (u, t) = if (k % 2 == 0) { val u = plain(); (u, traced()) }
          else { val t = traced(); (plain(), t) }
        pairs ++= u.zip(t)
        k += 1
      } while (k < 2 || secondsSince(t0) < seconds)
      (pairs.map(_._1).toSeq, pairs.map(_._2).toSeq)
    }

    val ctlPre = Control.hashRate(spark, o.cores, ControlPerCore)
    val ticksPre = cpuTicks()
    val cold = iterate(prepared, untraced(w))(_ => ())
    // checked but untimed
    val warmUp = (1 to WarmUpIters).flatMap(_ => iterate(prepared, untraced(w))(_ => ()))
    val (warm, tracedWarm) =
      if (o.trace) overheadPairs(o.seconds / 2)
      else (warmLoop(prepared, untraced(w), o.seconds), Nil)
    val ticksPost = cpuTicks()
    val ctlPost = Control.hashRate(spark, o.cores, ControlPerCore)
    attempt(s"${w.name} final checks")(prepared.finalChecks())
    val wall = Workload.median(warm)

    if (!o.trace) {
      metrics("setup_s") = Metric(Workload.median(setupTimes), "s", setupTimes.size)
      metrics("cold_s") = Metric(cold.getOrElse(Double.NaN), "s", cold.size)
      metrics("wall_s") = Metric(wall, "s", warm.size)
      metrics("throughput_per_s") = Metric(prepared.records / wall, "1/s", warm.size)
    } else {
      metrics("trace.overhead_ratio") = Metric(
        Workload.median(warm.zip(tracedWarm).map { case (u, t) => t / u }), "ratio", warm.size)
      val spanFiles = mutable.ArrayBuffer.empty[String]
      (w +: Workload.all.filterNot(_ == w)).foreach { ws =>
        val p =
          if (ws == w) prepared
          else {
            // warm-up, so traced calls are not the first codegen
            val warmDir = s"$inputs/${ws.name}-warm-up"
            ws.warmUpSetup(spark, o.seed, warmDir, o.cores) match {
              case Some(small) =>
                iterate(small, untraced(ws))(_ => ())
                Workload.deleteTree(new File(warmDir))
                ws.setup(spark, o.seed, s"$inputs/${ws.name}", o.cores)
              case None =>
                val q = ws.setup(spark, o.seed, s"$inputs/${ws.name}", o.cores)
                iterate(q, untraced(ws))(_ => ())
                q
            }
          }
        val tr = new Tracer(spark, s"${ws.name}-seed${o.seed}", enabled = true)
        (1 to TracedIters).foreach { i =>
          iterate(p, tr) { out =>
            if (i == TracedIters) attempt(s"${ws.name} layers") {
              metrics ++= p.layers(tr, out); Nil
            }
          }
        }
        p.sparkOps.foreach { op =>
          val st = tr.opStats(op)
          val n = math.max(1, tr.seconds(op).size).toDouble
          val m = s"spark.$op"
          metrics(s"$m.jobs") = Metric(st.jobs / n, "count", n.toInt)
          metrics(s"$m.stages") = Metric(st.stages / n, "count", n.toInt)
          metrics(s"$m.file_scans") = Metric(st.fileScans / n, "count", n.toInt)
          metrics(s"$m.exchanges") = Metric(st.exchanges / n, "count", n.toInt)
          metrics(s"$m.shuffle_write_bytes") = Metric(st.shuffleWriteBytes / n, "B", n.toInt)
          metrics(s"$m.shuffle_read_bytes") = Metric(st.shuffleReadBytes / n, "B", n.toInt)
          metrics(s"$m.spill_bytes") = Metric(st.spillBytes / n, "B", n.toInt)
          metrics(s"$m.task_skew") = Metric(st.taskSkew, "ratio", n.toInt)
          metrics(s"$m.executor_cpu_s") = Metric(st.executorCpuNs / n / 1e9, "s", n.toInt)
        }
        if (ws.name == JvmGaugeWorkload) {
          metrics("jvm.gc_s") = Metric(Workload.median(tr.gauges.map(_._1).toSeq), "s", tr.gauges.size)
          metrics("jvm.old_gen_peak_mb") = Metric(tr.gauges.map(_._2).max, "MB", tr.gauges.size)
        }
        tr.close()
        val f = new File(o.traces, s"spans-${ws.name}-seed${o.seed}-${ProcessHandle.current().pid()}.json")
        f.getParentFile.mkdirs()
        Files.write(f.toPath, tr.spansJson.getBytes(StandardCharsets.UTF_8))
        spanFiles += f.getPath
        if (ws != w) Workload.deleteTree(new File(s"$inputs/${ws.name}"))
      }
      report("span_files") = spanFiles.map(Json.str).mkString("[", ",", "]")
    }

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    report("records") = prepared.records.toString
    report("fingerprint") = Json.str(prepared.fingerprint)
    report("ops_failed_ratio") = Json.num(failed.toDouble / attempted)
    report("iterations") = Json.obj(Seq(
      "setup_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "cold_s" -> cold.map(Json.num).getOrElse("null"),
      "warm_up_s" -> warmUp.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> warm.map(Json.num).mkString("[", ",", "]"),
      "traced_s" -> tracedWarm.map(Json.num).mkString("[", ",", "]"),
      "cpu_s" -> cpuSeconds.map(Json.num).mkString("[", ",", "]"),
      "jit_s" -> jitSeconds.map(Json.num).mkString("[", ",", "]"),
      "janino_compiles" -> compiles.mkString("[", ",", "]")))
    report("health") = Json.obj(Seq(
      "env.control_ghash_per_s" -> Json.num(math.sqrt(ctlPre * ctlPost) / 1e9),
      "control_ghash_per_s_pre" -> Json.num(ctlPre / 1e9),
      "control_ghash_per_s_post" -> Json.num(ctlPost / 1e9),
      "env.steal_share" -> ticksPre.zip(ticksPost).map { case ((s0, t0), (s1, t1)) =>
        Json.num((s1 - s0).toDouble / math.max(1L, t1 - t0))
      }.getOrElse("null"),
      "nproc" -> o.cores.toString,
      "max_heap_mb" -> heapMb.toString,
      "cache" -> Json.str("inputs: none, generated from the seed in every set-up; " +
        s"Spark codegen cache: $CodegenCacheEntries entries, empty at JVM start")))
    spark.stop()

    val json = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "seconds" -> Json.num(o.seconds),
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
          "samples" -> m.samples.toString))
      })) ++ report.toSeq)
    Files.write(new File(o.out).toPath, json.getBytes(StandardCharsets.UTF_8))
  }
}
