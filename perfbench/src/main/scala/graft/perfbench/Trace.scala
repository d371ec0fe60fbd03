package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call from the benchmark into a layer. `inv` is the
  * operation (invocation) the call belongs to; 0 outside operations.
  */
final case class Span(id: Int, parent: Int, inv: Int, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. When
  * disabled, `span` only runs its body, so the untraced run pays
  * nothing for it. The harness's main thread is the only caller.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String)]
  private var nextId = 1
  private var sc: Option[SparkContext] = None
  var inv = 0

  /** Jobs started while a span is open carry the operation id and the
    * open span path as local properties, which [[SparkStats]] reads.
    */
  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name) :: open
      setProps()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, inv, name, t0, System.nanoTime())
        open = open.tail
        setProps()
      }
    }

  /** The operation id and the path of open span names, outermost first. */
  private def setProps(): Unit = sc.foreach { c =>
    c.setLocalProperty(Tracer.InvProp, inv.toString)
    c.setLocalProperty(Tracer.SpanProp, open.reverseIterator.map(_._2).mkString("/"))
  }

  /** Each span's self time: its duration minus the part of it its child
    * spans cover (children of one span never overlap: the harness's main
    * thread is the only caller).
    */
  def selfById: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.map(s => s.id ->
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  def selfByLayer: Map[String, Double] = {
    val self = selfById
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def writeJsonl(path: String): Unit = {
    val self = selfById
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "inv" -> s.inv, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id))))
    } finally w.close()
  }
}

object Tracer {
  val InvProp = "perfbench.inv"
  val SpanProp = "perfbench.span"
}

/** Scheduler, executor and shuffle counters per operation, from a
  * benchmark-owned listener. Jobs are tied to an operation by the local
  * properties the [[Tracer]] sets; tasks and stages through their job.
  */
final class SparkStats extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, delayMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var outRecords, outBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val stageKey = new ConcurrentHashMap[Int, (Int, String)]()
  val byInv = mutable.Map[Int, Acc]()
  /** keyed by the path of spans open when the job started */
  val byPath = mutable.Map[String, Acc]()

  private def accs(key: (Int, String)): Seq[Acc] = synchronized {
    Seq(byInv.getOrElseUpdate(key._1, new Acc),
      byPath.getOrElseUpdate(key._2, new Acc))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = (p.flatMap(x => Option(x.getProperty(Tracer.InvProp)))
      .map(_.toInt).getOrElse(0),
      p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).getOrElse(""))
    e.stageIds.foreach(s => stageKey.put(s, key))
    accs(key).foreach(a => a.synchronized(a.jobs += 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach(k =>
      accs(k).foreach(a => a.synchronized(a.stages += 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = Option(stageKey.get(e.stageId)).getOrElse((0, ""))
    val m = e.taskMetrics
    val info = e.taskInfo
    accs(k).foreach { a =>
      a.synchronized {
        a.tasks += 1
        a.intervals += ((info.launchTime, info.finishTime))
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outRecords += m.outputMetrics.recordsWritten
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

/** Planner phase times from the tracker of each executed action's fresh
  * QueryExecution.
  */
final class PlannerStats extends QueryExecutionListener {
  var analysisMs, optimizeMs, physicalMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizeMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    physicalMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }
  def totalMs: Long = synchronized(analysisMs + optimizeMs + physicalMs)
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** The largest heap in use right after a collection, over the
  * collections the JVM reports (GC notifications) since the last
  * `reset`. Explicit `System.gc()` calls are left out, so the harness's
  * own end-of-pass collection does not count.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private var peak, gcs = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcCause != "System.gc()") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used); gcs += 1 }
      }
    }

  def reset(): Unit = synchronized { peak = 0L; gcs = 0L }
  /** The peak in MB; the heap in use now if no collection ran. */
  def peakMb: Double = synchronized {
    (if (gcs > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
  def collections: Double = synchronized(gcs.toDouble)
  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** JVM- and host-level probes: GC and JIT time, heap in use after a
  * full collection, and the CPU steal share from /proc/stat.
  */
object Probes {
  /** Heap in use right after a full collection: the live data a run
    * holds at that point, independent of when the collector last ran.
    */
  def liveHeapMb(): Double = {
    // the second collection frees what the first one's reference
    // processing released (Spark's cleaner drops unpersisted blocks)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of this process, all threads, in seconds. */
  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuJiffies: (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
}
