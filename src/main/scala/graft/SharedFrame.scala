package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A frame several queries share, declared next to its builder.
  *
  *  - `name` is its `[bench-cache]` line in Bench and, for a checkpointed
  *    or memoized frame, its [[SessionMemo]] key: a cache has one name.
  *  - `deps` are the shared frames its `build` reads. Bench pre-builds
  *    the frames a selection reads, plus everything upstream of them,
  *    each after its deps ([[SparkEntry.sharedCachesFor]]).
  *  - `apply` builds the frame and keeps it as declared: persisted
  *    (repeat builds find the cached plan through CacheManager plan
  *    equality), checkpointed (an eager localCheckpoint shared by object
  *    identity, stored serialized and compressed), or memoized whole (a
  *    value holding several frames, shared by object identity).
  *
  * Code reads a shared frame only through `apply`, which notes the read
  * while [[SharedFrame.recording]] runs on the same thread.
  */
final class SharedFrame[T] private (
    val name: String,
    val deps: Seq[SharedFrame[_]],
    val build: (SparkSession, String) => T,
    keep: (SparkSession, String, () => T) => T,
    forced: T => DataFrame) {

  /** The frame for (session, scale dir), built on first use. */
  def apply(s: SparkSession, d: String): T = {
    val reads = SharedFrame.recorder.get
    if (reads == null) keep(s, d, () => build(s, d))
    else {
      if (reads.depth == 0) reads.top += this
      keep(s, d, () => reads.inBuild(build(s, d)))
    }
  }

  /** The frame Bench forces to pre-build this one. */
  def force(s: SparkSession, d: String): DataFrame = forced(apply(s, d))
}

object SharedFrame {

  /** Built on every call and persisted unless CacheManager already holds
    * the plan ([[SessionMemo.persistOnce]]).
    */
  def persisted(name: String, deps: SharedFrame[_]*)(
      build: (SparkSession, String) => DataFrame): SharedFrame[DataFrame] =
    new SharedFrame[DataFrame](name, deps, build,
      (_, _, df) => SessionMemo.persistOnce(df()), identity)

  /** Eagerly localCheckpointed once per (session, dir) under `name`,
    * with its blocks serialized and compressed ([[SessionMemo.retain]]):
    * ~14 B per row of five longs, where a deserialized copy takes ~100 B.
    */
  def checkpointed(name: String, deps: SharedFrame[_]*)(
      build: (SparkSession, String) => DataFrame): SharedFrame[DataFrame] =
    new SharedFrame[DataFrame](name, deps, build,
      (s, d, df) => SessionMemo.checkpoint(s, d, name)(df()), identity)

  /** Built once per (session, dir) under `name`; `forced` picks the frame
    * whose evaluation pre-builds the value.
    */
  def memoized[T <: AnyRef](name: String, deps: SharedFrame[_]*)(
      forced: T => DataFrame)(
      build: (SparkSession, String) => T): SharedFrame[T] =
    new SharedFrame[T](name, deps, build,
      (s, d, v) => SessionMemo(s, d, name)(v()), forced)

  /** The reads noted on one thread: `top` are those made outside any
    * frame's own build; `depth` > 0 inside one, where reads are that
    * frame's.
    */
  private final class Reads {
    var depth = 0
    val top = scala.collection.mutable.LinkedHashSet.empty[SharedFrame[_]]
    def inBuild[A](body: => A): A = {
      depth += 1
      try body finally depth -= 1
    }
  }

  private val recorder = new ThreadLocal[Reads]

  /** The shared frames `body` reads on this thread outside any frame's
    * own build. For tests.
    */
  private[graft] def recording(body: => Any): Set[SharedFrame[_]] = {
    val outer = recorder.get
    val reads = new Reads
    recorder.set(reads)
    try {
      body
      reads.top.toSet
    } finally recorder.set(outer)
  }
}
