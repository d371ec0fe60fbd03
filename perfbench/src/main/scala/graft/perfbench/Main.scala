package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkConfDefaults

/** Per-run state shared by the harness and a workload: the tracer, the
  * samples and counters the run reports, and the output-check verdicts.
  */
final class Ctx(val tracer: Tracer, val params: Map[String, String],
    val inputs: String, val work: String) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, String]()
  var attempted, failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k"))

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer()) += v

  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  /** Time `body` in milliseconds under `key`, inside a span `span`. */
  def timed[T](key: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(span)(body)
    sample(key, (System.nanoTime() - t0) / 1e6)
    r
  }

  /** One operation of the closed loop: a new invocation id, an `op.*`
    * span, and an `op_ms` sample. A throwing operation counts as failed
    * and is not sampled.
    */
  def op(name: String)(body: => Unit): Unit = {
    tracer.inv += 1
    attempted += 1
    val before = probe.map(_())
    val t0 = System.nanoTime()
    try {
      tracer.span(s"op.$name")(body)
      sample("op_ms", (System.nanoTime() - t0) / 1e6)
    } catch { case e: Exception =>
      failed += 1
      failures += s"$name: $e"
    }
    for (f <- probe; b <- before) opDeltas(tracer.inv) =
      f().map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }
  }

  /** Traced runs only: cumulative counters read before and after each
    * operation, whose differences are kept per operation id.
    */
  var probe: Option[() => Map[String, Double]] = None
  val opDeltas = mutable.LinkedHashMap[Int, Map[String, Double]]()

  /** Record an output check; a failed check fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = if (ok) "ok" else s"FAIL $detail"
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $name: $detail" }
  }
}

/** Workload parts run one after the other, as one workload. */
final class Composite(parts: Seq[Workload]) extends Workload {
  def prepare(spark: SparkSession, ctx: Ctx): Unit = parts.foreach(_.prepare(spark, ctx))
  def pass(spark: SparkSession, ctx: Ctx, p: Int): Unit = parts.foreach(_.pass(spark, ctx, p))
  def finish(spark: SparkSession, ctx: Ctx): Unit = parts.foreach(_.finish(spark, ctx))
}

trait Workload {
  /** Per-session preparation: everything a user pays before the first
    * operation (table resolution, shared-cache builds). Part of setup.
    */
  def prepare(spark: SparkSession, ctx: Ctx): Unit
  /** One pass of the workload's fixed operation sequence. */
  def pass(spark: SparkSession, ctx: Ctx, p: Int): Unit
  /** Output checks, after the timed phase. */
  def finish(spark: SparkSession, ctx: Ctx): Unit
}

/** Benchmark harness entry point. Runs one workload in this JVM: the
  * set-up (session, prepare, `--param warmup=<n>` untimed passes), then
  * complete passes over the workload's operations until `--seconds`
  * have elapsed, each followed by a timing of the reference kernel
  * ([[HostSpeed]]), then the output checks. Writes one JSON record of
  * raw samples and counters to `--out`, and with `--trace 1` the spans
  * as JSONL to `--spans`.
  */
object Main {
  def session(cpus: Int, warehouse: String): SparkSession = {
    val spark = SparkConfDefaults.withDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toSeq
    val one = opts.toMap
    val params = opts.collect { case ("--param", kv) =>
      kv.split("=", 2) match { case Array(k, v) => k -> v } }.toMap
    val workloadName = one("--workload")
    val seconds = one("--seconds").toDouble
    val traced = one("--trace") == "1"
    val cpus = one("--cpus").toInt
    val work = one("--work")
    val tracer = new Tracer(traced)
    val ctx = new Ctx(tracer, params, one("--inputs"), work)
    val workload: Workload = new Composite(params("parts").split(",").toSeq.map {
      case "queries" => new QueryWorkload
      case "weather" => new WeatherWorkload
      case p => throw new IllegalArgumentException(s"unknown workload part $p")
    })

    // ---- set-up, once: JVM start, session, shared caches, `warmup` passes
    val t0 = System.nanoTime()
    val spark = tracer.span("session.create")(session(cpus, s"$work/warehouse"))
    ctx.sample("session_create_s", (System.nanoTime() - t0) / 1e9)
    workload.prepare(spark, ctx)
    HostSpeed.measure(cpus) // compiles the kernel before its first timing
    // the timed passes report alone: drop what the warm-up passes add to
    // samples, counters and spans (their operations still count as
    // attempted, and fail the run if they fail)
    val kept = (ctx.samples.map { case (k, v) => k -> v.clone() }, ctx.counters.clone(),
      tracer.spans.size)
    val warmup = params.getOrElse("warmup", "0").toInt
    (0 until warmup).foreach(workload.pass(spark, ctx, _))
    ctx.samples.clear(); ctx.samples ++= kept._1
    ctx.counters.clear(); ctx.counters ++= kept._2
    tracer.spans.remove(kept._3, tracer.spans.size - kept._3)
    ctx.sample("setup_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)

    // ---- timed phase ------------------------------------------------------
    val stats = new SparkStats
    val planner = new PlannerStats
    if (traced) {
      tracer.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(planner)
      ctx.probe = Some { () =>
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        Map("planner_s" -> (planner.totalMs / 1e3 +
            ctx.counters.getOrElse("planner.build_analysis_s", 0.0)),
          "codegen_s" -> CodeGenerator.compileTime / 1e9)
      }
    }
    // every pass starts from its live set (later passes after the
    // previous pass's sample), so no pass's peak counts set-up garbage
    ctx.sample("start_heap_mb", Probes.liveHeapMb())
    val heap = new HeapPeak
    val (steal0, total0) = Probes.cpuJiffies
    val gc0 = Probes.gcSeconds
    val jit0 = Probes.jitSeconds
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val tStart = System.nanoTime()
    var p = 0
    while (p == 0 || System.nanoTime() - tStart < seconds * 1e9) {
      val t0 = System.nanoTime()
      val cpu0 = Probes.processCpuSeconds
      heap.reset()
      workload.pass(spark, ctx, warmup + p)
      ctx.sample("pass_s", (System.nanoTime() - t0) / 1e9)
      ctx.sample("pass_cpu_s", Probes.processCpuSeconds - cpu0)
      ctx.sample("heap_peak_mb", heap.peakMb)
      ctx.sample("heap_gcs", heap.collections)
      // retained heap after the pass, a diagnostic
      ctx.sample("live_heap_mb", Probes.liveHeapMb())
      // the host's speed for this pass, once its collections are done
      val (refWall, refCpu) = HostSpeed.measure(cpus)
      ctx.sample("ref_wall_s", refWall)
      ctx.sample("ref_cpu_s", refCpu)
      p += 1
    }
    heap.close()
    val timedS = (System.nanoTime() - tStart) / 1e9
    if (traced) org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val (steal1, total1) = Probes.cpuJiffies
    val c = ctx.counters
    c("timed_s") = timedS
    c("passes") = p
    c("cpus") = cpus
    c("jvm.gc_s") = Probes.gcSeconds - gc0
    c("jvm.jit_s") = Probes.jitSeconds - jit0
    c("codegen.compile_s") = (CodeGenerator.compileTime - cg0._1) / 1e9
    c("codegen.classes") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2).toDouble
    c("host.steal_frac") =
      if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    if (traced) sparkCounters(ctx, stats, planner, cpus)

    // ---- output checks (untimed) -----------------------------------------
    tracer.inv = 0
    try workload.finish(spark, ctx)
    catch { case e: Exception => ctx.check("finish", ok = false, e.toString) }
    if (traced) {
      tracer.selfByLayer.foreach { case (l, s) => c(s"self.$l") = s }
      tracer.writeJsonl(one("--spans"))
    }
    val rec = Json.obj(Seq(
      "workload" -> workloadName,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.take(20),
      "checks" -> ctx.checks, "counters" -> ctx.counters,
      "samples" -> ctx.samples, "ops" -> opRows(ctx, stats, cpus)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(one("--out")), rec)
    spark.stop()
  }

  /** Per-layer Spark counters over the operations of the timed phase. */
  private def sparkCounters(ctx: Ctx, stats: SparkStats,
      planner: PlannerStats, cpus: Int): Unit = {
    val c = ctx.counters
    val ops = ctx.tracer.spans.filter(s => s.inv > 0 && s.name.startsWith("op."))
    val accs = stats.byInv.collect { case (i, a) if i > 0 => i -> a }
    def sum(f: stats.Acc => Long): Double = accs.values.map(f).sum.toDouble
    val opWall = ops.map(_.seconds).sum
    c("scheduler.jobs") = sum(_.jobs)
    c("scheduler.stages") = sum(_.stages)
    c("scheduler.tasks") = sum(_.tasks)
    c("scheduler.delay_s") = sum(_.delayMs) / 1e3
    // the part of each operation's wall during which none of its tasks ran
    c("scheduler.idle_s") = ops.map { s =>
      val ivs = accs.get(s.inv).map(_.intervals.toSeq).getOrElse(Nil)
      s.seconds - Main.unionMs(ivs) / 1e3
    }.sum
    c("executor.run_s") = sum(_.runMs) / 1e3
    c("executor.cpu_s") = sum(_.cpuNs) / 1e9
    c("executor.gc_s") = sum(_.gcMs) / 1e3
    c("executor.busy_frac") = if (opWall > 0) sum(_.runMs) / 1e3 / (opWall * cpus) else 0.0
    c("shuffle.write_bytes") = sum(_.shuffleWrite)
    c("shuffle.read_bytes") = sum(_.shuffleRead)
    c("shuffle.fetch_wait_s") = sum(_.fetchWaitMs) / 1e3
    c("shuffle.spill_bytes") = sum(_.spill)
    c("planner.analysis_s") = planner.analysisMs / 1e3
    c("planner.optimize_s") = planner.optimizeMs / 1e3
    c("planner.physical_s") = planner.physicalMs / 1e3
    def under(span: String) = stats.byPath.filter(_._1.split('/').contains(span)).values
    c("queries.build_jobs") = under("queries.build").map(_.jobs).sum.toDouble
    for (sink <- Seq("fact", "weekly", "humidity")) {
      val accs = under(s"sinks.append.$sink")
      c(s"sinks.rows_written.$sink") = accs.map(_.outRecords).sum.toDouble
      ctx.add("sinks.bytes_written", accs.map(_.outBytes).sum.toDouble)
    }
    c("ops_wall_s") = opWall
  }

  /** Traced runs only: one row per operation with its wall, executor
    * time, busy share, idle time (no task running), and planner and
    * codegen time.
    */
  private def opRows(ctx: Ctx, stats: SparkStats, cpus: Int): Seq[Map[String, Any]] =
    ctx.tracer.spans.filter(s => s.inv > 0 && s.name.startsWith("op.")).sortBy(_.inv)
      .map { s =>
        val acc = stats.byInv.get(s.inv)
        val runS = acc.map(_.runMs / 1e3).getOrElse(0.0)
        val busyS = acc.map(a => unionMs(a.intervals.toSeq) / 1e3).getOrElse(0.0)
        val d = ctx.opDeltas.getOrElse(s.inv, Map.empty)
        Map("inv" -> s.inv, "name" -> s.name.stripPrefix("op."), "wall_s" -> s.seconds,
          "run_s" -> runS, "busy_frac" -> (if (s.seconds > 0) runS / (s.seconds * cpus) else 0.0),
          "idle_s" -> (s.seconds - busyS), "planner_s" -> d.getOrElse("planner_s", 0.0),
          "codegen_s" -> d.getOrElse("codegen_s", 0.0))
      }.toSeq

  /** Total length of the union of [start, end] millisecond intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var started = false
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }

  /** The planner's own phases for a freshly built DataFrame. */
  def analysisSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
}
