package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{WeatherPipeline, WeatherSinks}
import graft.sinks.{ParquetSink, Sink}
import graft.sources.{ForecastJsonSource, Tables}
import graft.storage.CommitLog

object Files {
  /** Bytes and regular-file count under `f`. */
  def usage(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles()).fold((0L, 0))(_.map(usage)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) })

  def write(path: String, text: String): Unit =
    java.nio.file.Files.writeString(new File(path).toPath, text)
}

/** Registry queries over generated star-schema tables: each operation
  * builds one query through `SparkEntry.queries` and writes its result
  * as parquet (the way a scheduled job or `Verify` runs it). The last
  * pass's outputs and the queries' oracle SQL are left under
  * `work/out` for the DuckDB comparison.
  */
final class QueryWorkload extends Workload {
  private var names: Seq[String] = Nil
  private var dir = ""

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    // `headline` and `headline-dv` name whole query families (all of
    // `Bench.headline`, or its dedup and vector queries); `sample.py`
    // measures them to choose the workloads' fixed samples
    names = ctx.param("queries") match {
      case "headline" => graft.Bench.headline
      case "headline-dv" => graft.Bench.headline.filter(_.matches("[dv]\\d+_.*"))
      case list => list.split(",").toSeq
    }
    dir = s"${ctx.inputs}/tables"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(",")}")
    ctx.tracer.span("sources.tables") {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach(Tables(spark, dir, _))
      Tables.events(spark, dir)
    }
    val t0 = System.nanoTime()
    SparkEntry.sharedCachesFor(names.toSet).foreach { case (name, build) =>
      ctx.tracer.span(s"caches.build.$name") {
        build(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    ctx.counters("caches.build_s") = (System.nanoTime() - t0) / 1e9
  }

  def pass(spark: SparkSession, ctx: Ctx, p: Int): Unit =
    names.foreach { name =>
      ctx.op(name) {
        val df = ctx.timed("build_ms", "queries.build")(SparkEntry.queries(name)(spark, dir))
        if (ctx.tracer.enabled)
          ctx.add("planner.build_analysis_s", Main.analysisSeconds(df.queryExecution))
        ctx.tracer.span("spark.write") {
          df.write.mode("overwrite").parquet(s"${ctx.work}/out/$name")
        }
      }
    }

  def finish(spark: SparkSession, ctx: Ctx): Unit = {
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(s"${ctx.work}/out/oracle_sql.json", Json.value(oracle.toMap))
    ctx.counters("queries.build_s") =
      ctx.samples.get("build_ms").map(_.sum / 1e3).getOrElse(0.0)
  }
}

/** A sink decorator that times each call and counts the files it adds
  * under `dir`.
  */
final class TimingSink(inner: Sink, dir: String, name: String, ctx: Ctx) extends Sink {
  private def files = Files.usage(new File(dir))._2
  def append(df: DataFrame): Unit = {
    val before = files
    ctx.timed(s"sinks.append_ms.$name", s"sinks.append.$name")(inner.append(df))
    ctx.add("sinks.files_written", files - before)
  }
  def read(spark: SparkSession): DataFrame =
    ctx.timed("sinks.read_ms", "sinks.read")(inner.read(spark))
  def isEmpty(spark: SparkSession): Boolean =
    ctx.tracer.span("sinks.is_empty")(inner.isEmpty(spark))
}

/** The pipeline's fact table as a commit-log table: each append is one
  * exactly-once `appendBatch` under the batch id the caller sets, reads
  * resolve the head snapshot.
  */
final class CommitLogSink(val table: String, ctx: Ctx) extends Sink {
  var batchId = 0L
  var committed = false
  def append(df: DataFrame): Unit =
    committed = ctx.timed("commit_ms", "storage.append_batch")(
      CommitLog.appendBatch(table, df, batchId))
  def read(spark: SparkSession): DataFrame =
    ctx.tracer.span("storage.read_head")(CommitLog.read(spark, table))
  def isEmpty(spark: SparkSession): Boolean = CommitLog.latestVersion(table) == 0L
}

/** The paper's pipeline: a full load of forecast batch 0, then hourly
  * incremental loads of batches 1..loads. The weekly and humidity
  * reports go to parquet sinks; the fact table is a commit-log table, so
  * every load is one exactly-once commit, followed by a time-travel read
  * of the version it created. Each incremental batch repeats 39 of its
  * 40 steps per city: the recency gate and the anti-join decide what is
  * new. Every pass writes a fresh set of sinks and ends with snapshot
  * expiry and an orphan vacuum on its fact table.
  */
final class WeatherWorkload extends Workload {
  private val periodStart = to_timestamp(lit("2024-01-01 00:00:00"))
  private val periodEnd = to_timestamp(lit("2024-01-04 00:00:00"))
  private val clock = to_timestamp(lit("2024-02-01 00:00:00"))
  private var lastRoot = ""
  // per fact-table version: (rows, sum of Humidity), from the generator
  private var versions: IndexedSeq[(Long, Long)] = IndexedSeq.empty

  private def batch(ctx: Ctx, b: Int) = s"${ctx.inputs}/weather/batch_$b.json"

  def prepare(spark: SparkSession, ctx: Ctx): Unit =
    versions = scala.io.Source.fromFile(s"${ctx.inputs}/weather/expected_versions.csv")
      .getLines().drop(1).map(_.split(",")).map(a => (a(1).toLong, a(2).toLong))
      .toIndexedSeq

  private def sinks(root: String, ctx: Ctx, fact: CommitLogSink): WeatherSinks = {
    def parquet(n: String) = new TimingSink(ParquetSink(s"$root/$n"), s"$root/$n", n, ctx)
    WeatherSinks(new TimingSink(fact, fact.table, "fact", ctx), parquet("weekly"),
      parquet("humidity"))
  }

  private def rowsAndHumidity(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("Humidity").cast("long")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  private def load(spark: SparkSession, ctx: Ctx, b: Int, s: WeatherSinks,
      fact: CommitLogSink): Unit = {
    val kind = if (b == 0) "full_load" else "incremental_load"
    val rows = ctx.param("cities").toLong * 40
    ctx.add("sources.bytes_read", new File(batch(ctx, b)).length.toDouble)
    ctx.add("sources.rows_read", rows.toDouble)
    ctx.add("pipeline.rows_in", rows.toDouble)
    fact.batchId = b.toLong
    ctx.op(kind) {
      ctx.timed(s"$kind.ms", s"pipeline.$kind") {
        val obs = ctx.tracer.span("sources.load")(ForecastJsonSource.load(spark, batch(ctx, b)))
        if (b == 0) WeatherPipeline.fullLoad(spark, obs, s, periodStart, periodEnd, clock)
        else WeatherPipeline.incrementalLoad(spark, obs, s, periodStart, periodEnd, clock)
      }
      val table = fact.table
      val v = CommitLog.latestVersion(table)
      val got = ctx.timed("read_ms", "storage.read")(
        rowsAndHumidity(CommitLog.read(spark, table, Some(v))))
      if (got != versions(b))
        throw new IllegalStateException(s"fact v$v holds $got, expected ${versions(b)}")
      val live = ctx.timed("live_files_ms", "storage.live_files")(CommitLog.liveFiles(table, v))
      val plan = ctx.timed("plan_scan_ms", "storage.plan_scan")(CommitLog.planScan(table, v,
        Seq(CommitLog.RangePredicate("weatherDate", "2024-01-01", "2024-01-02"))))
      ctx.add("storage.plan_scan_files", live.size.toDouble)
      ctx.add("storage.plan_scan_skipped", plan.skipped.values.sum.toDouble)
      if (v % 2 == 0)
        ctx.timed("checkpoint_ms", "storage.checkpoint")(CommitLog.checkpoint(table))
    }
  }

  def pass(spark: SparkSession, ctx: Ctx, p: Int): Unit = {
    val root = s"${ctx.work}/sinks/pass$p"
    val fact = new CommitLogSink(s"$root/fact", ctx)
    val s = sinks(root, ctx, fact)
    val loads = ctx.param("loads").toInt
    (0 to loads).foreach(b => load(spark, ctx, b, s, fact))
    // table maintenance at the end of the job: storage overhead, expiry
    // of all but the last two versions, orphan vacuum
    val table = fact.table
    val head = CommitLog.latestVersion(table)
    val live = CommitLog.liveFiles(table, head)
      .map(f => Files.usage(new File(CommitLog.dataDir(table), f))._1).sum
    ctx.sample("bytes_per_user_byte", Files.usage(new File(table))._1.toDouble / live)
    ctx.counters("storage.files_live") = CommitLog.liveFiles(table, head).size
    ctx.counters("storage.log_bytes") = Files.usage(new File(table, "_log"))._1.toDouble
    ctx.timed("expire_ms", "storage.expire")(CommitLog.expireSnapshots(table, head - 1))
    ctx.timed("vacuum_ms", "storage.vacuum")(CommitLog.vacuumOrphans(table, 1L))
    lastRoot = root
  }

  def finish(spark: SparkSession, ctx: Ctx): Unit = {
    val root = lastRoot
    val table = s"$root/fact"
    val cities = ctx.param("cities").toLong
    val loads = ctx.param("loads").toInt
    val head = rowsAndHumidity(CommitLog.read(spark, table))
    ctx.check("fact_head", head == versions(loads),
      s"fact head holds $head, expected ${versions(loads)}")
    ctx.check("fact_count", head._1 == cities * 40 + loads * cities,
      s"fact rows ${head._1}, expected ${cities * 40 + loads * cities}")
    // report rows compared as multisets with the generator's
    def same(name: String, cols: Seq[String]): Unit = {
      def rows(path: String) = spark.read.parquet(path).select(cols.map(col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val got = rows(s"$root/$name")
      val want = rows(s"${ctx.inputs}/weather/expected_$name.parquet")
      ctx.check(s"${name}_rows", got == want,
        s"${got.diff(want).size} unexpected and ${want.diff(got).size} missing rows")
    }
    same("weekly", Seq("country", "city", "week", "average_temperature"))
    same("humidity", Seq("country", "city", "average_humidity", "start_date", "end_date"))
    val expired = try { CommitLog.read(spark, table, Some(1L)); false }
      catch { case _: CommitLog.SnapshotExpired => true }
    ctx.check("expired_read_refused", expired,
      "a read below the expiry horizon did not throw SnapshotExpired")
    ctx.check("ledger_exactly_once",
      CommitLog.committedBatchIds(table) == (0L to loads.toLong).toSet,
      s"ledger holds ${CommitLog.committedBatchIds(table)}")
    // a replayed batch id is skipped by the ledger; the same batch under a
    // new id passes the anti-join and appends nothing
    val fact = new CommitLogSink(table, ctx)
    val s = WeatherSinks(fact, ParquetSink(s"$root/weekly"), ParquetSink(s"$root/humidity"))
    val last = ForecastJsonSource.load(spark, batch(ctx, loads))
    fact.batchId = loads.toLong
    WeatherPipeline.incrementalLoad(spark, last, s, periodStart, periodEnd, clock)
    ctx.check("replay_skipped", !fact.committed, "a replayed batch id was committed again")
    fact.batchId = loads + 1L
    WeatherPipeline.incrementalLoad(spark, last, s, periodStart, periodEnd, clock)
    ctx.check("rerun_appends_nothing",
      rowsAndHumidity(CommitLog.read(spark, table)) == head, "re-running the last batch added rows")
    val s2 = ctx.samples
    val loadMs = s2.get("full_load.ms").map(_.sum).getOrElse(0.0) +
      s2.get("incremental_load.ms").map(_.sum).getOrElse(0.0)
    ctx.counters("pipeline.ingest_rows_per_s") =
      if (loadMs > 0) ctx.counters.getOrElse("pipeline.rows_in", 0.0) / (loadMs / 1e3) else 0.0
  }
}
