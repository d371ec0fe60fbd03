package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one per-session memo: values keyed on (session, scale dir, name),
  * built once and shared by OBJECT IDENTITY.
  *
  * Two kinds of shared frame live here:
  *  - resolved tables (`Tables`): `spark.read.parquet` re-lists the path
  *    and re-reads footers on every call, so a table is resolved once,
  *    the way a catalog would;
  *  - eagerly localCheckpointed derived frames ([[checkpoint]]): a deep
  *    cached frame found again by CacheManager plan equality is still
  *    re-ANALYZED on every invocation (~0.3 s of Catalyst for a
  *    six-join-layer frame), while a checkpoint truncates the plan to a
  *    LogicalRDD. A LogicalRDD cannot be re-found by plan equality, so
  *    it is shared through this map. Its blocks are stored serialized
  *    and compressed ([[retain]]): a deserialized UnsafeRow copy costs
  *    ~100 B per row of five longs, the compressed bytes ~14 B
  *    (`dedup.keeper_pairs`, 496k rows: 51.1 → 7.1 MB).
  *
  * A shared frame's name here is its [[SharedFrame]] name (`table.*`
  * keys are the resolved tables): the frame declares it once, and
  * nothing else spells it.
  *
  * A hit is one lock-free map read (`Tables(...)` runs inside every
  * query build). A miss builds OUTSIDE any lock, then publishes with
  * `putIfAbsent`: builds nest (verified_pairs builds keeper_pairs builds
  * keeper_index ...), which `ConcurrentHashMap.computeIfAbsent` forbids.
  * Two threads racing on one key both build; the loser's checkpoint
  * blocks are released and both get the winner.
  *
  * The keys hold sessions strongly, so one application-end listener per
  * SparkContext clears the whole map — a stopped session is never
  * pinned, and stopping the context drops the checkpoint blocks anyway.
  */
object SessionMemo {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  /** Application id of the context the listener is installed on. */
  @volatile private var hookedApp: String = _

  private val onEnd = new SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = memo.clear()
  }

  private def hook(sc: SparkContext): Unit = synchronized {
    if (hookedApp != sc.applicationId) {
      sc.addSparkListener(onEnd)
      hookedApp = sc.applicationId
    }
  }

  /** The value memoized under (s, dir, name), built on first use. */
  def apply[T <: AnyRef](s: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (s, dir, name)
    val hit = memo.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    if (hookedApp != s.sparkContext.applicationId) hook(s.sparkContext)
    val built = build
    memo.putIfAbsent(key, built) match {
      case null => built
      case won =>
        release(built)
        won.asInstanceOf[T]
    }
  }

  /** [[apply]] over [[retain]] of `build`. */
  def checkpoint(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    apply(s, dir, name)(retain(build))

  /** `df` as a frame held for the session's lifetime: an eager
    * localCheckpoint whose blocks are serialized and, under the default
    * `spark.rdd.compress=true`, compressed ([[SparkConfDefaults.storageConf]]).
    * Every checkpoint kept for the session, whether this memo holds it
    * directly or inside a memoized value, is stored this way. The price
    * is paid on read: every scan decompresses and deserializes the rows
    * (plans are unchanged), which at sf0.1 costs the queries that scan
    * `dedup.keeper_sigs` or the prefix buckets ~0.2–0.4 s each.
    */
  def retain(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)

  /** Persist unless the CacheManager already holds this plan: repeat
    * invocations reuse the entry (found by plan equality) instead of
    * stacking persist() calls.
    */
  def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist() else df

  private[graft] def keys: Set[(SparkSession, String, String)] = {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.toSet
  }

  /** Free the checkpoint blocks of a losing build: every frame in it
    * (also inside tuples and sequences) whose plan is a bare LogicalRDD.
    */
  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
    case xs: Iterable[_] => xs.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }
}
