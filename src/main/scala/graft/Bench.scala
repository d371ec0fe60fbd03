package graft

import org.apache.spark.sql.DataFrame

/** Driver-run benchmark: times headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A warmup pass (table reads + the full query set
  * at the smallest scale) runs first so the timings measure the
  * operators, not JVM/JIT/page-cache cold start — without it the first
  * heavy query absorbs ~30 s of one-time cost and per-query attribution
  * is noise.
  *
  * SPARK_GRAFT_BENCH_ALL=1 times every registered query (headline plus
  * the deliberately-quadratic baselines; used for local profiling).
  * SPARK_GRAFT_BENCH_ONLY=a,b,c times only the named queries (profiling);
  * unknown names warn to stderr, an empty selection exits non-zero.
  */
object Bench {

  /** Headline set, DERIVED from the registry (every query carries its
    * DuckDB oracle, so the published ratio compares like with like)
    * except two by-construction demonstrations whose cost is a documented
    * property of their SHAPE, not of data volume or plan quality:
    *  - d6 (brute-force embedding near-dup): quadratic BY CONSTRUCTION
    *    as the test-scale exactness baseline — its scale path (v5
    *    banded-LSH) is what belongs in a benchmark;
    *  - sql15 (recursive reset bin-packing): a LINEAR recursive CTE —
    *    ~80 sequential recursion levels, each a scheduled Spark job
    *    over an 80-row cached frame, so its ~14 s is the per-level
    *    scheduling floor of iterative execution on a BSP engine (the
    *    same list costs milliseconds on DuckDB's single-process
    *    recursion). The windowed approximation that belongs in a
    *    benchmark is stor3.
    * Both still run under SPARK_GRAFT_BENCH_ALL. Deriving the list
    * (sorted, for a stable timing order) means a newly registered
    * query cannot silently miss the bench — the previous hand-kept
    * 91-name list had exactly that failure mode — and each exclusion
    * is asserted to exist so a rename can't silently pull it back in.
    */
  val headline: Seq[String] = {
    val excluded = Set("d6_embedding_neardup", "sql15_reset_binpack")
    excluded.foreach(e => require(SparkEntry.queries.contains(e),
      s"headline exclusion '$e' is not in the registry — renamed?"))
    (SparkEntry.queries.keySet -- excluded).toSeq.sorted
  }

  /** Fully evaluate a query's output. `.count()` is NOT that: Catalyst
    * prunes deterministic projections under count, so a projection-only
    * query would time the parquet scan and none of its expressions. The
    * noop sink materializes every output row (all columns written into
    * the row) while discarding the bytes — the standard Spark
    * benchmarking force.
    */
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The regression gate's parse-and-compare. `baseline` is the text of
    * a committed BENCH_BASELINE.json (Bench's own detail format, so a
    * regex parse of its `"sf"`, `"cpus"` and `"name":secs` fields is
    * exact); `times` are this run's per-query seconds, looked up in the
    * baseline under `key(name)`. A query regresses when it is BOTH
    * >1.5x slower AND >0.3 s absolute slower — the absolute floor keeps
    * sub-100 ms queries' scheduler jitter out of the list.
    *
    * Timings only compare at one shape: a baseline whose `sf` or `cpus`
    * differs from the run's measures the host and the scale, not the
    * code, so it yields Left(a message naming both shapes) and no
    * comparison. Otherwise Right(the regressed names, sorted).
    */
  private[graft] def regressions(baseline: String, sf: String, cpus: Int,
      times: Seq[(String, Double)],
      key: String => String): Either[String, Seq[String]] = {
    val baseSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(baseline)
      .map(_.group(1))
    val baseCpus = "\"cpus\":([0-9]+)".r.findFirstMatchIn(baseline)
      .map(_.group(1).toInt)
    if (!baseSf.contains(sf) || !baseCpus.contains(cpus))
      Left(s"baseline shape sf=${baseSf.getOrElse("?")} " +
        s"cpus=${baseCpus.getOrElse("?")} differs from this run's " +
        s"sf=$sf cpus=$cpus")
    else {
      val secs = "\"([A-Za-z0-9_]+)\":([0-9]+\\.[0-9]+)".r
        .findAllMatchIn(baseline).map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
      Right(times.collect {
        case (n, s) if secs.get(key(n)).exists(b => s > b * 1.5 && s - b > 0.3)
          => n
      }.sorted)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkConfDefaults.cpus
    val spark = SparkConfDefaults.session()

    // The pinned ambient-drift control set (the d10/d14 adjudication
    // playbook, BASELINE.md): queries spanning trivial scans to heavy
    // multi-stage plans whose code rarely changes — when the driver's
    // regression gate flags entries, ONE run of this set prices the
    // host's current ambient band (uniform inflation here = host
    // drift; an outlier against THIS set = a real per-query cause).
    // SPARK_GRAFT_BENCH_CONTROL=1 selects it.
    val controlSet = Seq(
      "p1_p6_unit_convert", "p7_period_filter", "f7_bitwise_funcs",
      "s4_except_users", "d2_jaccard_pairs", "d10_triangles",
      "d16_semantic_clusters", "g8_weighted_median", "x8_tfidf_topk",
      "v2_ann_lsh", "e1_funnel")
    controlSet.foreach(c => require(SparkEntry.queries.contains(c),
      s"control-set query '$c' is not in the registry — renamed?"))

    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .orElse(if (sys.env.get("SPARK_GRAFT_BENCH_CONTROL").contains("1"))
          Some(controlSet.mkString(",")) else None) match {
      case Some(only) =>
        val requested = only.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val unknown = requested.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] WARNING: unknown queries ignored: ${unknown.mkString(",")}")
        val selected = requested.filter(SparkEntry.queries.contains)
        if (selected.isEmpty) {
          System.err.println(
            "[bench] ERROR: SPARK_GRAFT_BENCH_ONLY selected no known queries")
          spark.stop()
          sys.exit(2)
        }
        selected
      case None =>
        if (sys.env.contains("SPARK_GRAFT_BENCH_ALL"))
          SparkEntry.queries.keys.toSeq.sorted
        else headline
    }

    // Warmup: touch every target table (page cache + parquet footers),
    // then run the whole query set once at the smallest scale factor.
    // Query structure is SF-independent, so this JIT-compiles the
    // interpreted expression paths (md5, higher-order folds) and fills
    // the codegen cache with exactly the classes the timed runs need —
    // without it, whichever query runs first pays a 10×+ cold-path
    // penalty and attribution is noise. Warmup failures only warn: the
    // timed pass will fail the same query loudly.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup table $t failed: $e") }
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup table events failed: $e") }
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory)
        "/root/testdata/sf0.001"
      else sfDir
    names.foreach { name =>
      try { force(SparkEntry.queries(name)(spark, warmDir)) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: $e") }
    }

    // Shared-cache pre-build (VERDICT r13 #2): every family's persisted
    // cross-query frame is forced HERE, at the target scale, before the
    // timed passes — each build timed on its own `[bench-cache]` line
    // (with the block-manager memory and disk bytes held once it is
    // built) and reported under "caches" in BENCH_DETAIL.json. Without
    // this, a family's cache build lands on whichever member query runs
    // first, so per-query numbers silently move whenever a family
    // gains a query (r13: d14 read 5.9× "slower" after d27 joined the
    // shared pair frame; x37 absorbed the whole BPE-chain build).
    // Dependency order (tokens → shingles → pairs) attributes each
    // layer's cost to its own line rather than to the deepest frame.
    // Only the caches the SELECTED queries consume are forced (ADVICE
    // r14: a one-query or control-set run previously paid every
    // family's builds, defeating the control set's "one cheap run
    // prices the ambient band" purpose).
    val caches: Seq[(String, Double)] =
      SparkEntry.sharedCachesFor(names.toSet).map { case (cname, build) =>
        val t0 = System.nanoTime()
        try {
          force(build(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          val held = spark.sparkContext.getRDDStorageInfo
          val memMb = held.map(_.memSize).sum / 1e6
          val diskMb = held.map(_.diskSize).sum / 1e6
          System.err.println(
            f"[bench-cache] $cname $sec%.2fs held mem $memMb%.1fMB disk $diskMb%.1fMB")
          cname -> sec
        } catch { case e: Throwable =>
          System.err.println(s"[bench-cache] FAIL $cname: $e")
          cname -> -1.0
        }
      }
    val cacheTotal = caches.collect { case (_, s) if s >= 0 => s }.sum
    // A failed cache build must fail the run (ADVICE r14): the member
    // queries would silently re-absorb the build cost, and the
    // attribution drift the prebuild exists to kill returns unnoticed.
    val failedCaches = caches.collect { case (n, s) if s < 0 => n }

    // SPARK_GRAFT_PROFILE=1: per-query execution-shape line (jobs,
    // stages, tasks, summed task time vs wall) — the floor-class
    // decomposition tool (VERDICT r14 #2b): wall >> task time means
    // the query pays scheduling/planning floor, not compute — followed by
    // one `[bench-stage]` line per stage (tasks, task time, the stage's
    // own submission→completion wall, shuffle read), which separates
    // stages that run 1-2 coalesced tasks serially from stages that are
    // pure scheduling floor. Profile one query with
    // SPARK_GRAFT_BENCH_ONLY=<query> SPARK_GRAFT_PROFILE=1.
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    val prof = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.scheduler.StageInfo]()
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val taskNanos = new java.util.concurrent.atomic.AtomicLong
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskNanos.addAndGet(e.taskMetrics.executorRunTime * 1000000L)
      }
      def snap(): (Long, Long, Long) = (jobs.get, tasks.get, taskNanos.get)
    }
    if (profile) spark.sparkContext.addSparkListener(prof)

    // One timed execution; None = the query THREW. A failure must never
    // masquerade as a fast timing — failed queries are excluded from the
    // total, listed in the JSON, and fail the run's exit code.
    def time(name: String): Option[Double] = {
      if (profile) prof.stages.clear()
      val before = if (profile) prof.snap() else null
      val t0 = System.nanoTime()
      try {
        force(SparkEntry.queries(name)(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        if (profile) {
          // let the (async) listener bus drain so the counters cover
          // this query; the timing above is already taken
          Thread.sleep(300)
          val a = prof.snap()
          import scala.jdk.CollectionConverters._
          val st = prof.stages.asScala.toSeq.sortBy(_.stageId)
          System.err.println(f"[bench-prof] $name $sec%.3fs " +
            f"jobs=${a._1 - before._1} stages=${st.size} " +
            f"tasks=${a._2 - before._2} " +
            f"taskTime=${(a._3 - before._3) / 1e9}%.3fs")
          st.foreach { si =>
            val wall = (for (s <- si.submissionTime; c <- si.completionTime)
              yield (c - s) / 1e3).getOrElse(-1.0)
            System.err.println(f"[bench-stage] $name ${si.stageId}%4d " +
              f"tasks=${si.numTasks}%4d " +
              f"taskTime=${si.taskMetrics.executorRunTime / 1e3}%7.3fs " +
              f"wall=$wall%6.3fs shufRead=" +
              f"${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%7.2fMB " +
              si.name.takeWhile(_ != '\n').take(60))
          }
        }
        System.err.println(f"[bench] $name $sec%.2fs")
        Some(sec)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAIL $name: $e")
          None
      }
    }
    // Two timed passes + per-query minimum: the first pass at target
    // scale still absorbs C2 compilation of that scale's generated
    // classes (plans differ from the warmup scale under AQE), which
    // makes single-shot timings bimodal by 10x+. Min-of-2 measures the
    // operator, not the JIT. Every query reports the minimum of the
    // same two passes: a third sample taken only when the passes
    // disagree gives those queries an extra draw at a low minimum, so
    // a change that removes cold work (the passes then agree) could
    // read slower.
    val p1 = names.map(n => n -> time(n)).toMap
    val p2 = names.map(n => n -> time(n)).toMap
    val results: Seq[(String, Option[Double])] = names.map(n =>
      n -> (for (a <- p1(n); b <- p2(n)) yield math.min(a, b)))
    val ok = results.collect { case (n, Some(s)) => n -> s }
    // failed cache builds are listed (and fail the exit code) alongside
    // failed queries, prefixed by their registry name
    val failed = failedCaches.map("cache:" + _) ++
      results.collect { case (n, None) => n }
    // ---- artifact emission -------------------------------------------
    // The driver captures only the TAIL of this process's output (2000
    // chars observed), so the printed JSON line must stay WELL under
    // that or its head is cut off and the artifact is unparseable —
    // this bit round 8 AND round 10 (152 short-keyed queries ≈ 1.84 kB
    // → `parsed: null`). The full per-query map therefore goes to a
    // FILE in the repo (BENCH_DETAIL.json, full precision, judge-
    // readable), and the printed line carries only the aggregate
    // signal: total, query count, failures, the regression list vs the
    // committed baseline, and the 10 slowest queries. Bounded size:
    // ~600 chars regardless of registry growth.
    def shortKey(n: String): String = n.split('_').head
    val collisions = names.groupBy(shortKey).filter(_._2.size > 1)
      .values.flatten.toSet
    def key(n: String): String = if (collisions(n)) n else shortKey(n)
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = ok.map(_._2).sum
    // the checkout the run reads its baseline from and writes its
    // detail to: the working directory unless SPARK_GRAFT_REPO names one
    val repoDir = sys.env.getOrElse("SPARK_GRAFT_REPO",
      System.getProperty("user.dir"))
    // Regression gate (VERDICT r10 #2) against the committed
    // BENCH_BASELINE.json, when it was recorded at this run's shape
    val baselinePath = new java.io.File(repoDir, "BENCH_BASELINE.json")
    val gate: Either[String, Seq[String]] =
      if (!baselinePath.isFile) Left(s"no $baselinePath")
      else regressions(
        scala.io.Source.fromFile(baselinePath, "UTF-8").mkString,
        sfDir, cpus, ok, key)
    gate.left.foreach(why =>
      System.err.println(s"[bench] regression gate skipped: $why"))
    val regressed = gate.getOrElse(Nil)
    val qsFull = ok.sortBy(_._1)
      .map { case (k, v) => "\"" + key(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // printed list capped so a pathological round can't blow the line
    val regressedJson = (regressed.take(15).map("\"" + _ + "\"") ++
      (if (regressed.size > 15) Seq("\"+" + (regressed.size - 15) + " more\"")
       else Nil)).mkString("[", ",", "]")
    val slowest = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + key(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val cachesJson = caches
      .map { case (n, v) => "\"" + n + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${ok.size},"queries":$qsFull,"cache_total":${fmt(cacheTotal)},"caches":$cachesJson,"failed":$failedJson,"regressed":$regressedJson,"baseline_file":"${if (gate.isRight) "BENCH_BASELINE.json" else ""}"}"""
    val detailFile = new java.io.File(repoDir, "BENCH_DETAIL.json")
    try {
      val w = new java.io.PrintWriter(detailFile, "UTF-8")
      try w.println(detail) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: could not write $detailFile: $e")
    }
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${ok.size},"queries":$slowest,"cache_total":${fmt(cacheTotal)},"failed":$failedJson,"regressed":$regressedJson,"detail":"BENCH_DETAIL.json"}"""
    if (line.length > 1500)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars " +
        "— approaching the driver's 2000-char tail capture")
    println(line)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench] ERROR: ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
