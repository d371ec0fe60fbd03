package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** O4 — the reference's fault-tolerance conf surface, as a reusable
  * default set (the last reference-surface operator row; VERDICT r11
  * item 10).
  *
  * The reference provisions its cluster with aggressive retry budgets
  * so a transient executor loss never kills the nightly load:
  * `spark.task.maxFailures=12` and
  * `spark.stage.maxConsecutiveAttempts=12`
  * (reference `src/airflow_dags/weather_report_data_full_load_dag.py:70-71`,
  * alongside the YARN AM max-attempts=6 and MapReduce maxattempts=12
  * rows that have no Spark-side equivalent here), plus task-level
  * orchestrator retries (5 × 1 min, `:90-91`) which belong to the
  * scheduler wrapping the job, not the engine.
  *
  * These are STATIC confs (read once at SparkContext creation), so they
  * go on the session BUILDER before getOrCreate: every entry point and
  * the test suite get their session from [[session]], which routes
  * through [[withDefaults]]. In
  * `local[n]` mode Spark ignores task retries unless the master string
  * carries them (`local[n, maxFailures]`); the conf still documents and
  * ships the cluster-mode contract, which is where it matters.
  */
object SparkConfDefaults {

  /** The reference's Spark-level retry budget, verbatim. */
  val retryConf: Map[String, String] = Map(
    "spark.task.maxFailures" -> "12",
    "spark.stage.maxConsecutiveAttempts" -> "12")

  /** AQE partition-coalescing floor (OPT r19, guide §2.2/§2.5): the
    * default 1 MB `minPartitionSize` is tuned for I/O-bound stages, but
    * the CPU-dense small shuffles this engine runs everywhere — capped
    * pair expansion over collected sets, per-node windows on graph
    * edges, iterative peel rounds — carry seconds of compute in under
    * 3 MB of shuffle bytes, and the 1 MB floor coalesces them to 1-2
    * tasks that run that compute SERIALLY (measured on d10: the
    * co-occurrence reduce stage read 2.42 MB, was coalesced to 2
    * tasks, and ran 3.1 s of CPU at wall 1.7 s; at 64 KB the same
    * stage ran 32 tasks at wall 0.4 s — query wall 3.34 → 2.36 s).
    * Full-suite A/B picked 256 KB: 64 KB over-splits mid-size
    * shuffles (suite 129.2 s), 256 KB keeps the CPU-dense wins and
    * the rest flat (113.7 s vs 126.1 s at the 1 MB default, −10%,
    * with the round's query changes included). The floor only changes
    * behavior for shuffles small enough that the bytes-based
    * heuristic is meaningless (`parallelismFirst` still governs large
    * ones), so production-scale stages are unaffected — a floor fix,
    * not a local[32] tune. A/B it through SPARK_GRAFT_CONF.
    */
  val adaptiveConf: Map[String, String] = Map(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    // Parallel-listing threshold (OPT r19, guide §6): every commit-log
    // read passes the manifest's EXPLICIT live-file list, and above 32
    // paths Spark schedules a distributed file-LISTING job — one
    // near-empty task per path (profiled on stor18: 300 tasks,
    // 0.03 s of task time, 0.57 s of wall per invocation; every
    // stor*/st1x commit-log query pays it several times). The listing
    // is pure metadata (getFileStatus per path); on a local or HDFS
    // namenode-backed FS the driver does it in microseconds-per-path,
    // so the job is all scheduling overhead. Interleaved A/B/B/A on
    // the 10-query commit-log subset: 8.9/9.3 s (default 32) vs
    // 4.8/5.3 s (1024) — −45%. The right value is STORE-dependent,
    // not scale-dependent: on an object store whose per-path HEAD is
    // ~10s of ms, distributed listing wins earlier, so a production
    // deployment sets its store's crossover through SPARK_GRAFT_CONF
    // (the file COUNT per read is bounded by the manifest's live set
    // either way, not by data volume).
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024")

  /** Compress serialized RDD blocks. Every frame [[SessionMemo]] holds
    * for the session's lifetime is a local checkpoint stored serialized
    * ([[SessionMemo.retain]]); with these bytes compressed (lz4, Spark's
    * default codec) `dedup.keeper_pairs` (496k rows of five longs) holds
    * 7.1 MB of storage memory, against 32.1 MB serialized alone and 51.1 MB
    * as deserialized UnsafeRow copies (~100 B per row). Deserialized
    * blocks (the columnar batches of `persist()`ed frames) stay as they
    * are in memory; only their copies on disk are compressed. Static:
    * read once when the SparkContext starts.
    */
  val storageConf: Map[String, String] = Map("spark.rdd.compress" -> "true")

  /** Tungsten page size for tasks that run on a JVM heap of
    * `heapBytes`: the smallest power of two ≥ 1 MB with which 4096
    * pages cover Spark's unified memory pool, `(heap − 300 MB) × 0.6`,
    * capped at Spark's 64 MB maximum. Every hash aggregate, sort and
    * shuffle-write task holds at least one whole page, so Spark's own
    * rule (pool ÷ cores ÷ 16) spends 16 MB per task on a 3 GB local[4]
    * heap whose hourly batches are a few thousand rows. A fixed small
    * page would cap a task at scale instead: a task addresses at most
    * 8192 pages (`TaskMemoryManager`'s page table), and 4096 pages —
    * half the table — that cover the whole pool let a task run out of
    * memory before it fills its page table, even at 50% page
    * fragmentation. 1 MB on a 3 GB heap, 2 MB on 7 GB, 16 MB on a
    * 64 GB executor. A record larger than a page gets a page of its
    * own size, as under any page size.
    */
  def pageSizeBytes(heapBytes: Long): Long = {
    val pool = ((heapBytes - (300L << 20)) * 0.6).toLong
    val least = math.max(1L << 20, (pool + 4095) / 4096)
    math.min(64L << 20, java.lang.Long.highestOneBit(least - 1) << 1)
  }

  /** `spark.buffer.pageSize` for a task heap of `heapBytes`. */
  def pageConf(heapBytes: Long): Map[String, String] =
    Map("spark.buffer.pageSize" -> s"${pageSizeBytes(heapBytes) >> 20}m")

  /** Profiling knob (guide §1): extra session confs as "k=v;k=v" from
    * SPARK_GRAFT_CONF, applied last — what lets a config hypothesis be
    * A/B-measured on the FULL bench without touching Bench.scala.
    * Empty in normal runs.
    */
  private def envConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap).getOrElse(Map.empty)

  /** Apply the defaults to a session builder (pre-getOrCreate). Every
    * caller builds a `local[n]` session, whose tasks run on this JVM's
    * heap, so the page size is [[pageSizeBytes]] of this JVM's maximum
    * heap.
    */
  def withDefaults(b: SparkSession.Builder): SparkSession.Builder =
    (retryConf ++ adaptiveConf ++ storageConf ++
      pageConf(Runtime.getRuntime.maxMemory) ++ envConf).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v) }

  /** Local parallelism: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder: Bench, Verify, Explain and the test suite
    * all run this configuration. `local[cpus]` with one shuffle
    * partition per core, UTC, no UI, and the defaults above (so
    * SPARK_GRAFT_CONF overrides any of it), compressed serialized RDD
    * blocks ([[storageConf]]), Tungsten pages
    * sized from this JVM's heap by [[pageSizeBytes]] (4096 pages cover
    * the memory pool, half of a task's 8192-entry page table). The
    * generated-class cache is JVM-wide and defaults to 100 entries; a
    * many-query session compiles several codegen stages per query, so
    * at 100 the queries evict each other's classes and every
    * re-execution pays Janino again — 5000 holds the whole registry's
    * classes.
    */
  def session(): SparkSession = {
    val n = cpus.toString
    val spark = withDefaults(SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every remaining unpartitioned window in the registry runs over a
    // BOUNDED summary frame (≤256 bucket offsets, day/decile spines,
    // source catalogs — each site carries an inline size note, and
    // PlanAuditSpec's range-partition guard structurally rejects an
    // unpartitioned Window over raw data), so WindowExec's
    // single-partition warning is pure noise: ~300 identical lines per
    // suite run that bury real warnings. The guard, not the log level,
    // enforces the property.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Apply the defaults to a bare SparkConf (cluster-submit path). The
    * tasks run on executor JVMs, so the page size follows
    * `spark.executor.memory` when it is set and is otherwise left to
    * Spark.
    */
  def apply(conf: SparkConf): SparkConf = {
    val executorHeap = "spark.executor.memory"
    val pages =
      if (conf.contains(executorHeap)) pageConf(conf.getSizeAsMb(executorHeap) << 20)
      else Map.empty[String, String]
    (retryConf ++ adaptiveConf ++ storageConf ++ pages ++ envConf).foldLeft(conf) {
      case (c, (k, v)) => c.set(k, v) }
  }
}
