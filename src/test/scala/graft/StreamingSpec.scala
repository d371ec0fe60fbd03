package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** Full events-table row shape for the registry-parity streams. */
case class Ev2(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private lazy val evs = Seq(
    Ev(1, t("2024-01-01 10:05:00"), 1, 10.0),
    Ev(2, t("2024-01-01 10:20:00"), 1, 20.0),
    Ev(3, t("2024-01-01 10:55:00"), 1, 30.0), // 35min gap: new session
    Ev(4, t("2024-01-01 11:10:00"), 1, 40.0), // 15min gap: same session
    Ev(5, t("2024-01-01 10:05:00"), 2, 5.0)
  )

  test("sessionAgg merges under-gap events, splits at >= gap") {
    val out = StreamingOps.sessionAgg(evs.toDF()
      .withColumn("event_type", lit("x")), "ts", "30 minutes", Seq("user_id"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(out == Set(
      (1L, t("2024-01-01 10:05:00"), t("2024-01-01 10:50:00"), 2L),
      (1L, t("2024-01-01 10:55:00"), t("2024-01-01 11:40:00"), 2L),
      (2L, t("2024-01-01 10:05:00"), t("2024-01-01 10:35:00"), 1L)))
  }

  test("tumblingAgg epoch-aligns windows") {
    val out = StreamingOps.tumblingAgg(evs.toDF(), "ts", "1 hour",
      Seq("user_id"))
      .select("window_start", "user_id", "n_events")
      .as[(Timestamp, Long, Long)].collect().toSet
    assert(out == Set(
      (t("2024-01-01 10:00:00"), 1L, 3L),
      (t("2024-01-01 11:00:00"), 1L, 1L),
      (t("2024-01-01 10:00:00"), 2L, 1L)))
  }

  test("streaming tumbling agg over MemoryStream matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(evs: _*)
    val q = StreamingOps.tumblingAgg(ms.toDF(), "ts", "1 hour",
      Seq("user_id"))
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_t")
      .select("window_start", "user_id", "n_events", "avg_value")
      .as[(Timestamp, Long, Long, Double)].collect().toSet
    val batch = StreamingOps.tumblingAgg(evs.toDF(), "ts", "1 hour",
      Seq("user_id"))
      .select("window_start", "user_id", "n_events", "avg_value")
      .as[(Timestamp, Long, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("session windows over a stream emit once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionAgg(
      ms.toDF().withWatermark("ts", "10 minutes"),
      "ts", "30 minutes", Seq("user_id"))
      .writeStream.format("memory").queryName("session_t")
      .outputMode("append").start()
    try {
      ms.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark far past every session's close
      ms.addData(Ev(99, t("2024-01-02 12:00:00"), 9, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_t")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val batch = StreamingOps.sessionAgg(evs.toDF(), "ts", "30 minutes",
      Seq("user_id"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(batch.subsetOf(streamed),
      "every batch session must be emitted by the stream")
  }

  test("sessionizeWithState in batch equals the built-in session window") {
    val batch = StreamingOps.sessionAgg(evs.toDF(), "ts", "30 minutes",
      Seq("user_id"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val custom = StreamingOps.sessionizeWithState(evs.toDF(), "user_id",
      "ts", gapSeconds = 1800L, emitOpen = true)
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(custom == batch)
    // out-of-order input within the group must not change the sessions
    val shuffled = StreamingOps.sessionizeWithState(
      evs.reverse.toDF(), "user_id", "ts", 1800L, emitOpen = true)
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(shuffled == batch)
  }

  test("sessionizeWithState over a stream: eager closes + timeout flush") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionizeWithState(
      ms.toDF().withWatermark("ts", "10 minutes"),
      "user_id", "ts", gapSeconds = 1800L, emitOpen = false)
      .writeStream.format("memory").queryName("custom_sess_t")
      .outputMode("append").start()
    try {
      ms.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark far past every open session's timeout; the
      // no-data batch that follows fires the event-time timeouts
      ms.addData(Ev(99, t("2024-01-02 12:00:00"), 9, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("custom_sess_t")
      .filter("user_id != 9") // the sentinel's own session stays open
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val batch = StreamingOps.sessionizeWithState(evs.toDF(), "user_id",
      "ts", 1800L, emitOpen = true)
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(streamed == batch,
      "streamed sessions (closes + timeouts) must equal the batch result")
  }

  test("windowed counts stream in complete mode and match the batch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("user_id"),
        col("n"))
      .writeStream.format("memory").queryName("win_topk_t")
      .outputMode("complete").start()
    try {
      ms.addData(evs: _*)
      q.processAllAvailable()
      // a late second batch updates the same windows (complete mode
      // re-emits the full result)
      ms.addData(Ev(10, t("2024-01-01 10:59:00"), 1, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("win_topk_t")
      .as[(Timestamp, Long, Long)].collect().toSet
    val batch = (evs :+ Ev(10, t("2024-01-01 10:59:00"), 1, 1.0))
      .toDF()
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("user_id"), col("n"))
      .as[(Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch,
      "complete-mode windowed counts must equal the batch aggregate")
  }

  test("rateLimitWithState quota persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.rateLimitWithState(ms.toDF(), "user_id", "ts",
      "event_id", quota = 5)
      .writeStream.format("memory").queryName("quota_t")
      .outputMode("append").start()
    try {
      // batch 1: user 1 sends 3 events — all admitted (ranks 1-3)
      ms.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, 0.0),
        Ev(2, t("2024-01-01 10:01:00"), 1, 0.0),
        Ev(3, t("2024-01-01 10:02:00"), 1, 0.0))
      q.processAllAvailable()
      // batch 2: user 1 sends 4 more — only 2 admitted (ranks 4-5)
      ms.addData(
        Ev(4, t("2024-01-01 10:03:00"), 1, 0.0),
        Ev(5, t("2024-01-01 10:04:00"), 1, 0.0),
        Ev(6, t("2024-01-01 10:05:00"), 1, 0.0),
        Ev(7, t("2024-01-01 10:06:00"), 1, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("quota_t")
      .select("event_id", "admit_rank")
      .as[(Long, Long)].collect().toSet
    assert(admitted == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L),
      (5L, 5L)),
      "quota state must persist across micro-batches: 3 + 2 admitted")
  }

  test("hourlyIncremental writer runs end-to-end and dedups the batch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(evs.head, evs.head, evs(1)) // duplicate of event 1
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingOps.hourlyIncremental(ms.toDF(), "ts", "1 hour",
      Seq("user_id", "value"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()) {
      (batch, id) =>
        batch.select("event_id").collect()
          .foreach(r => seen.synchronized { seen += ((id, r.getLong(0))) })
    }.start()
    try q.awaitTermination(60000) finally q.stop()
    assert(seen.map(_._2).sorted == Seq(1L, 2L),
      "foreachBatch sink must receive the deduped micro-batch")
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val errStream = MemoryStream[Ev]
    val clickStream = MemoryStream[Ev]
    val errs = Seq(
      Ev(10, t("2024-01-01 10:00:00"), 1, 0.0),
      Ev(11, t("2024-01-01 12:00:00"), 2, 0.0))
    val clicks = Seq(
      Ev(20, t("2024-01-01 10:30:00"), 1, 1.0), // within 1h of err 10
      Ev(21, t("2024-01-01 11:30:00"), 1, 1.0), // past the hour: out
      Ev(22, t("2024-01-01 12:15:00"), 2, 1.0), // within 1h of err 11
      Ev(23, t("2024-01-01 12:15:00"), 3, 1.0)) // wrong user: out
    errStream.addData(errs: _*)
    clickStream.addData(clicks: _*)
    val joined = StreamingOps.streamIntervalJoin(
      errStream.toDF().selectExpr("user_id", "event_id AS error_id",
        "ts AS err_ts"),
      clickStream.toDF().selectExpr("user_id", "event_id AS click_id",
        "ts AS click_ts"),
      "user_id", "err_ts", "click_ts", "1 hour", 3600L)
    val q = joined.select("error_id", "click_id")
      .writeStream.format("memory").queryName("ssjoin_t")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin_t")
      .as[(Long, Long)].collect().toSet
    assert(streamed == Set((10L, 20L), (11L, 22L)))
  }

  test("outer interval join over a SELF-derived source preserves the " +
    "left key on unmatched rows") {
    // both sides filter the SAME frame — the self-join lineage whose
    // shared expression IDs made drop(r(key)) remove the LEFT-preserved
    // key and emit NULL user_id on every unmatched row (the st9 bug)
    val base = (Seq(
      Ev(10, t("2024-01-01 10:00:00"), 1, 0.0), // err: matched by 20
      Ev(11, t("2024-01-01 12:00:00"), 2, 0.0), // err: no click in 1h
      Ev(12, t("2024-01-01 15:00:00"), 3, 0.0), // err: user has no clicks
      Ev(20, t("2024-01-01 10:30:00"), 1, 1.0),
      Ev(21, t("2024-01-01 13:30:00"), 2, 1.0)) // 90min late: out
    ).toDF()
    val errs = base.filter($"value" === 0.0)
      .selectExpr("user_id", "event_id AS error_id", "ts AS err_ts")
    val clicks = base.filter($"value" === 1.0)
      .selectExpr("user_id", "event_id AS click_id", "ts AS click_ts")
    val out = StreamingOps.streamIntervalJoinOuter(errs, clicks,
      "user_id", "err_ts", "click_ts", "1 hour", 3600L)
      .select("user_id", "error_id", "click_id")
      .as[(java.lang.Long, Long, java.lang.Long)].collect().toSet
    assert(out == Set[(java.lang.Long, Long, java.lang.Long)](
      (1L, 10L, 20L), (2L, 11L, null), (3L, 12L, null)))
  }

  // ---- file-source deploy path (beyond MemoryStream) -------------------

  /** Land a frame as ONE parquet file directly in `dir` (the layout a
    * file-source stream actually ingests — files, not nested dirs).
    */
  private def land(df: org.apache.spark.sql.DataFrame,
      dir: java.io.File, name: String): Unit = {
    val stage = new java.io.File(dir, s".stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$name.parquet").toPath)
    stage.listFiles().foreach(_.delete()); stage.delete()
  }

  test("file-source stream: declared schema → watermark → tumbling agg " +
    "matches batch") {
    withTempDir("graft_land") { dir =>
      // two landing files so AvailableNow+maxFilesPerTrigger=1 runs two
      // micro-batches: the sentinel batch advances the watermark past the
      // real data, flushing its windows in append mode (same mechanics as
      // a production stream where later arrivals close earlier windows)
      land(evs.toDF(), dir, "events_0")
      Thread.sleep(50) // file source orders batches by mod time
      land(Seq(Ev(99, t("2024-01-02 12:00:00"), 9, 0.0)).toDF(),
        dir, "events_1")
      // the deploy contract: schema DECLARED, never inferred — a streaming
      // source must not depend on what files happen to be present at start
      val schema = org.apache.spark.sql.Encoders.product[Ev].schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val q = StreamingOps.tumblingAgg(
        stream.withWatermark("ts", "10 minutes"), "ts", "1 hour",
        Seq("user_id"))
        .writeStream.format("memory").queryName("file_tumbling_t")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
      val streamed = spark.table("file_tumbling_t")
        .filter("user_id != 9") // the sentinel's own window stays open
        .select("window_start", "user_id", "n_events", "avg_value")
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      val batch = StreamingOps.tumblingAgg(evs.toDF(), "ts", "1 hour",
        Seq("user_id"))
        .select("window_start", "user_id", "n_events", "avg_value")
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      assert(streamed == batch,
        "file-source streamed windows must equal the batch form")
    }
  }

  test("file-source stream: hourlyIncremental dedups and appends to a " +
    "parquet sink") {
    withTempDir("graft_land2") { root =>
      val (dir, sink) = (new java.io.File(root, "land"), s"$root/sink")
      land(Seq(evs.head, evs.head, evs(1)).toDF(), dir, "events_0") // dup
      val schema = org.apache.spark.sql.Encoders.product[Ev].schema
      val stream = spark.readStream.schema(schema).parquet(dir.toString)
      val q = StreamingOps.hourlyIncremental(stream, "ts", "1 hour",
        Seq("user_id", "value"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()) {
        (batch, _) =>
          batch.write.mode("append").parquet(sink)
      }.start()
      try q.awaitTermination(120000) finally q.stop()
      val out = spark.read.parquet(sink).select("event_id")
        .as[Long].collect().toSeq.sorted
      assert(out == Seq(1L, 2L),
        "parquet sink must hold exactly the deduped events")
    }
  }

  test("stream-static enrichment over a MemoryStream matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("k", "segment")
    val ms = MemoryStream[Ev]
    val enriched = StreamingOps.enrichWithDim(
      ms.toDF().withColumn("event_type", lit("click")),
      dim, col("user_id") === col("k"))
      .groupBy(coalesce(col("segment"), lit("unknown")).as("seg"))
      .agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.format("memory").queryName("enrich_t")
      .outputMode("complete").start()
    try {
      ms.addData(evs: _*)
      ms.addData(Ev(9, t("2024-01-01 12:00:00"), 77L, 1.0)) // dim miss
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enrich_t")
      .as[(String, Long)].collect().toMap
    // batch form of the identical transform
    val batch = StreamingOps.enrichWithDim(
      (evs :+ Ev(9, t("2024-01-01 12:00:00"), 77L, 1.0)).toDF()
        .withColumn("event_type", lit("click")),
      dim, col("user_id") === col("k"))
      .groupBy(coalesce(col("segment"), lit("unknown")).as("seg"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == batch)
    assert(got("unknown") == 1L, "a dim miss must survive the left join")
  }

  test("dedupWithinWatermark emits each key once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.dedupWithinWatermark(ms.toDF(), "ts", "1 hour",
      Seq("user_id", "value"))
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      ms.addData(evs.head, evs.head, evs(1)) // dup inside one batch
      q.processAllAvailable()
      ms.addData(evs.head, evs(2)) // dup across batches
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_t").select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(out == Seq(1L, 2L, 3L))
  }

  test("custom state survives a checkpoint restart, output exactly-once") {
    // VERDICT r10 #8: the st-family proves the LOGIC over MemoryStreams;
    // this proves the RECOVERY contract that makes custom state usable
    // in production — kill the query mid-stream with an OPEN session in
    // the state store, restart from the checkpoint, and the recovered
    // state must (a) merge with post-restart events and (b) emit each
    // closed session exactly once. If recovery lost the state, the
    // post-restart event would open a FRESH session (n_events=1) and
    // the pre-restart session would never emit — both asserted against.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt_") { root =>
      val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
      // file sink, not memory sink: the memory sink rejects checkpoint
      // recovery outright ("query does not support recovering from
      // checkpoint location"), while the file sink's _spark_metadata
      // commit log is the real exactly-once mechanism — a replayed batch
      // is recorded once, so duplicate rows in the output directory would
      // be a genuine exactly-once violation, which is what this asserts.
      val ms = MemoryStream[Ev]
      def start() = StreamingOps.sessionizeWithState(
          ms.toDF().withWatermark("ts", "10 minutes"),
          "user_id", "ts", gapSeconds = 1800L, emitOpen = false)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

      // phase 1: two under-gap events open ONE session for user 1; the
      // watermark (10:20 - 10min) is far from its timeout, so NOTHING is
      // emitted and the open session exists only in the state store when
      // the query is stopped.
      val q1 = start()
      try {
        ms.addData(
          Ev(1, t("2024-01-01 10:05:00"), 1, 10.0),
          Ev(2, t("2024-01-01 10:20:00"), 1, 20.0))
        q1.processAllAvailable()
      } finally q1.stop()

      // phase 2: restart from the checkpoint. A 35min-later event (>= the
      // 30min gap) must CLOSE the recovered session — with n_events=2,
      // provable only if both pre-restart events survived in state — and
      // open a new one, which the watermark-advancing sentinel then
      // times out.
      val q2 = start()
      try {
        ms.addData(Ev(3, t("2024-01-01 10:55:00"), 1, 30.0))
        q2.processAllAvailable()
        ms.addData(Ev(99, t("2024-01-02 12:00:00"), 9, 0.0))
        q2.processAllAvailable()
      } finally q2.stop()

      // Seq, not Set: a replayed batch double-emitting the closed session
      // must fail the exactly-once claim, and a Set would mask it.
      val out = spark.read.parquet(outDir)
        .filter("user_id != 9") // the sentinel's own session stays open
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
        .sortBy(_._2.getTime)
      assert(out == Seq(
        (1L, t("2024-01-01 10:05:00"), t("2024-01-01 10:50:00"), 2L),
        (1L, t("2024-01-01 10:55:00"), t("2024-01-01 11:25:00"), 1L)),
        s"recovered-state sessions wrong: $out")
    }
  }

  test("RocksDB state store: 5k-key state survives checkpoint restart") {
    // VERDICT r14 #6 — the large-state axis the MemoryStream specs
    // don't exercise: the default HDFSBackedStateStoreProvider keeps
    // every version of every key ON HEAP, which is what OOMs first on
    // a 100 TB-scale stateful stream; production sessionization runs
    // on the RocksDB provider (off-heap + local disk, changelog/
    // snapshot files under the checkpoint). Same recovery contract as
    // the custom-state restart test, but (a) under the RocksDB
    // provider, (b) with 5,000 open sessions in state at the kill
    // point, and (c) asserting the checkpoint actually contains
    // RocksDB artifacts so a silently-ignored conf cannot fake a pass.
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    withTempDir("graft_rocks_") { root =>
      val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
      try {
        val ms = MemoryStream[Ev]
        def start() = StreamingOps.sessionizeWithState(
            ms.toDF().withWatermark("ts", "10 minutes"),
            "user_id", "ts", gapSeconds = 1800L, emitOpen = false)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        val users = 1L to 5000L
        // phase 1: two under-gap events per user — 5,000 OPEN sessions
        // live in the state store when the query is killed
        val q1 = start()
        try {
          ms.addData(users.map(u =>
            Ev(u, t("2024-01-01 10:05:00"), u, 1.0)))
          ms.addData(users.map(u =>
            Ev(10000 + u, t("2024-01-01 10:20:00"), u, 2.0)))
          q1.processAllAvailable()
        } finally q1.stop()
        // the provider must have written RocksDB state files (zip
        // snapshots / changelogs), not the HDFS provider's .delta files
        def stateFiles(suffix: String): Int = {
          val base = java.nio.file.Paths.get(ckpt, "state")
          if (!java.nio.file.Files.isDirectory(base)) 0
          else {
            val it = java.nio.file.Files.walk(base)
            try it.filter(p => p.toString.endsWith(suffix)).count().toInt
            finally it.close()
          }
        }
        assert(stateFiles(".zip") + stateFiles(".changelog") > 0,
          "checkpoint has no RocksDB snapshot/changelog files — the " +
            "provider conf did not take effect")
        assert(stateFiles(".delta") == 0,
          "checkpoint has HDFS-provider .delta files — wrong provider ran")
        // phase 2: restart from the checkpoint; a far-future sentinel
        // advances the watermark past every session's timeout, so all
        // 5,000 recovered sessions must close with BOTH events counted
        val q2 = start()
        try {
          ms.addData(Ev(99999, t("2024-01-02 12:00:00"), 999999L, 0.0))
          q2.processAllAvailable()
        } finally q2.stop()
        val out = spark.read.parquet(outDir)
          .filter(col("user_id") =!= 999999L)
          .groupBy("n_events").count()
          .as[(Long, Long)].collect().toMap
        assert(out == Map(2L -> 5000L),
          s"expected 5000 recovered 2-event sessions, got: $out")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(provKey, v)
          case None => spark.conf.unset(provKey)
        }
      }
    }
  }

  test("foreachBatch merge-upsert is idempotent under batch replay") {
    // The production sink pattern a CDC stream feeds: each micro-batch
    // MERGES into a keyed latest-value table (last writer by (ts,
    // event_id) wins). foreachBatch delivers AT-LEAST-ONCE — after a
    // crash between sink commit and checkpoint commit, the same batch
    // is re-applied — so the merge must be idempotent: re-applying a
    // batch already in the table must leave it unchanged. That is the
    // property asserted here, by literally re-running the final batch.
    // The merge materializes via localCheckpoint BEFORE overwriting the
    // table dir (an overwrite that lazily re-reads its own input reads
    // zero files), and keeps latest-per-key with one argmax window —
    // the cdc3 shape driven from a stream.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_upsert_") { root =>
      val dir = s"$root/tbl"
      def readTable(): org.apache.spark.sql.DataFrame =
        if (new java.io.File(dir).exists()) spark.read.parquet(dir)
        else Seq.empty[Ev].toDF()
      def merge(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val merged = readTable().unionByName(batch)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .localCheckpoint(true)
        merged.write.mode("overwrite").parquet(dir)
      }
      val ms = MemoryStream[Ev]
      val q = ms.toDF().writeStream.foreachBatch(merge _)
        .outputMode("update").start()
      try {
        ms.addData(Ev(1, t("2024-01-01 10:00:00"), 1, 10.0),
          Ev(2, t("2024-01-01 10:00:00"), 2, 5.0))
        q.processAllAvailable()
        ms.addData(Ev(3, t("2024-01-01 11:00:00"), 1, 20.0))
        q.processAllAvailable()
      } finally q.stop()
      def snapshot(): Set[(Long, Double)] = readTable()
        .select(col("user_id"), col("value"))
        .as[(Long, Double)].collect().toSet
      val afterStream = snapshot()
      assert(afterStream == Set((1L, 20.0), (2L, 5.0)),
        s"latest-per-key merge wrong: $afterStream")
      // replay the last batch against the committed table: idempotent
      merge(Seq(Ev(3, t("2024-01-01 11:00:00"), 1, 20.0)).toDF(), 99L)
      assert(snapshot() == afterStream,
        "re-applying a delivered batch must not change the table")
    }
  }

  // ---- registry-query streaming parity (VERDICT r12 #6) ----------------
  // st1/st2/st3/st8/st9 are oracle-checked in batch form; these tests
  // drive the SAME registry shapes over MemoryStreams in several
  // micro-batches against the real sf0.001 events table and assert the
  // streamed result equals the batch registry result — closing the
  // "batch-only oracle" gap so all 11 st queries are stream-driven.

  /** The real events table as in-memory rows, arrival (event_id) order. */
  private lazy val realEvents: Seq[Ev2] =
    graft.sources.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev2].collect().toSeq.sortBy(_.event_id)

  /** Feed `rows` to `ms` in `chunks` micro-batches, processing each. */
  private def feed(ms: MemoryStream[Ev2], rows: Seq[Ev2],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      chunks: Int = 3): Unit = {
    val size = math.max(1, (rows.length + chunks - 1) / chunks)
    rows.grouped(size).foreach { g =>
      ms.addData(g: _*); q.processAllAvailable()
    }
  }

  test("st1 registry tumbling window streamed over the real events " +
    "table matches the batch registry result") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev2]
    val q = StreamingOps.tumblingAgg(ms.toDF(), "ts", "1 hour",
        Seq("event_type"))
      .writeStream.format("memory").queryName("st1_reg_t")
      .outputMode("complete").start()
    try feed(ms, realEvents, q) finally q.stop()
    val streamed = spark.table("st1_reg_t")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("st1_tumbling_window")(spark, sf0001)
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("st2 registry sliding window streamed over the real events " +
    "table matches the batch registry result") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev2]
    val q = StreamingOps.slidingAgg(ms.toDF(), "ts", "2 hours", "1 hour",
        Seq("event_type"))
      .writeStream.format("memory").queryName("st2_reg_t")
      .outputMode("complete").start()
    try feed(ms, realEvents, q) finally q.stop()
    val streamed = spark.table("st2_reg_t")
      .as[(Timestamp, String, Long)].collect().toSet
    val batch = SparkEntry.queries("st2_sliding_window")(spark, sf0001)
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("st3 registry session windows streamed (ts order, watermarked, " +
    "append) match the batch registry result") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev2]
    val q = StreamingOps.sessionAgg(
        ms.toDF().withWatermark("ts", "10 minutes"),
        "ts", "30 minutes", Seq("user_id"))
      .writeStream.format("memory").queryName("st3_reg_t")
      .outputMode("append").start()
    try {
      // ts-ordered arrival: nothing falls behind the watermark, so the
      // append-mode stream must reproduce the batch sessions EXACTLY
      feed(ms, realEvents.sortBy(e => (e.ts.getTime, e.event_id)), q)
      // sentinel far past every session close flushes the state store
      ms.addData(Ev2(-1L, t("2030-01-01 00:00:00"), -1L, "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st3_reg_t")
      .filter($"user_id" =!= -1L) // the sentinel's own session stays open
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val batch = SparkEntry.queries("st3_session_window")(spark, sf0001)
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("st8 disorder profile streamed via disorderWithState matches " +
    "the batch registry result") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev2]
    val q = StreamingOps.disorderWithState(ms.toDF(), "user_id", "ts",
        "event_id")
      .writeStream.format("memory").queryName("st8_reg_t")
      .outputMode("append").start()
    // arrival order IS event_id (the registry query's convention);
    // 5 micro-batches so the per-key high-water mark must survive the
    // state store across batch boundaries to stay correct
    try feed(ms, realEvents, q, chunks = 5) finally q.stop()
    val streamed = spark.table("st8_reg_t")
      .select("event_id", "late_by").as[(Long, Long)].collect().toSet
    // batch per-event lateness: the exact window expression st8 uses
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val batchPerEvent = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("hwm", max(col("us")).over(w))
      .select(col("event_id"),
        when(col("hwm") > col("us"), col("hwm") - col("us"))
          .otherwise(lit(0L)).as("late_by"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batchPerEvent)
    // and the streamed per-event rows aggregate to the registry output
    val byType = realEvents.map(e => e.event_id -> e.event_type).toMap
    val streamedAgg = streamed.toSeq.map { case (id, late) =>
      (byType(id), late)
    }.groupBy(_._1).map { case (et, xs) =>
      (et, xs.size.toLong, xs.count(_._2 > 0L).toLong,
        xs.map(_._2).max)
    }.toSet
    val registry = SparkEntry.queries("st8_disorder")(spark, sf0001)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamedAgg == registry)
  }

  test("st9 outer interval join streamed over two MemoryStreams " +
    "matches the batch registry result") {
    implicit val sqlCtx = spark.sqlContext
    val errStream = MemoryStream[Ev2]
    val clickStream = MemoryStream[Ev2]
    val joined = StreamingOps.streamIntervalJoinOuter(
      errStream.toDF().filter($"event_type" === "error")
        .selectExpr("user_id", "event_id AS error_id", "ts AS err_ts"),
      clickStream.toDF().filter($"event_type" === "click")
        .selectExpr("user_id", "event_id AS click_id", "ts AS click_ts"),
      "user_id", "err_ts", "click_ts", "2 hours", 3600L)
    val q = joined.select("user_id", "error_id", "click_id")
      .writeStream.format("memory").queryName("st9_reg_t")
      .outputMode("append").start()
    try {
      errStream.addData(realEvents.filter(_.event_type == "error"): _*)
      clickStream.addData(realEvents.filter(_.event_type == "click"): _*)
      q.processAllAvailable()
      // sentinels on BOTH streams push both watermarks far past every
      // error's interval end, so unmatched errors emit their null rows
      // (distinct sentinel users/times: they must not join each other)
      errStream.addData(
        Ev2(-1L, t("2030-01-01 00:00:00"), -1L, "error", 0.0))
      clickStream.addData(
        Ev2(-2L, t("2030-02-01 00:00:00"), -2L, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st9_reg_t")
      .filter($"error_id" =!= -1L)
      .as[(Long, Long, Option[Long])].collect().toSet
    val batch = SparkEntry.queries("st9_interval_outer")(spark, sf0001)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(streamed == batch)
  }

  test("checkpointed stateful query RESTARTS: state recovered, " +
    "files not re-read, exactly-once counts") {
    // Restart recovery for the BUILT-IN window aggregation over the
    // FILE source (the custom-state restart test above covers the
    // MemoryStream + flatMapGroupsWithState path): a stateful query
    // stops mid-stream and a NEW query resumes from the same
    // checkpoint. The file source's processed-file log and the
    // aggregation's state store must both recover — if batch A were
    // re-read after restart, every count below would double; if state
    // were lost, A's contribution would vanish. This is the
    // crash-recovery contract a production pipeline relies on.
    withTempDir("graft_restart") { root =>
      val (srcDir, ckpt) = (s"$root/src", s"$root/ckpt")
      val a = evs.take(3)
      val b = evs.drop(3)
      a.toDF().write.mode("append").parquet(srcDir)
      def agg() = StreamingOps.tumblingAgg(
        spark.readStream.schema(evs.toDF().schema).parquet(srcDir),
        "ts", "1 hour", Seq("user_id"))
      val q1 = agg().writeStream.format("memory").queryName("restart_t1")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      try q1.processAllAvailable() finally q1.stop()
      val phase1 = spark.table("restart_t1")
        .select("window_start", "user_id", "n_events")
        .as[(Timestamp, Long, Long)].collect().toSet
      // batch A is events 1-3: all user 1, all in the 10:00 hour
      assert(phase1 == Set((t("2024-01-01 10:00:00"), 1L, 3L)),
        s"phase 1 state: $phase1")
      b.toDF().write.mode("append").parquet(srcDir)
      val q2 = agg().writeStream.format("memory").queryName("restart_t2")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      try q2.processAllAvailable() finally q2.stop()
      val resumed = spark.table("restart_t2")
        .select("window_start", "user_id", "n_events", "avg_value")
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      val batch = StreamingOps.tumblingAgg(evs.toDF(), "ts", "1 hour",
          Seq("user_id"))
        .select("window_start", "user_id", "n_events", "avg_value")
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      assert(resumed == batch,
        s"resumed state must equal the single-run batch: $resumed vs $batch")
    }
  }

  test("commit-log stream: one version per micro-batch, exactly-once " +
    "sink, restart resumes from the checkpointed version") {
    import graft.storage.CommitLog
    import org.apache.spark.sql.graft.CommitLogStream
    withTempDir("graft_cls_") { root =>
      val (up, down, ckpt) = (s"$root/up", s"$root/down", s"$root/ck")
      def stage(rel: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").write
          .parquet(s"${CommitLog.dataDir(up)}/$rel")
      stage("f1", Seq((1L, 10L), (2L, 20L)))
      stage("f2", Seq((3L, 30L)))
      CommitLog.commit(up, Seq("f1"), Nil, 0L)
      CommitLog.commit(up, Seq("f2"), Nil, 1L)
      val batchSizes =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def run(): Unit = {
        val q = spark.readStream.format(CommitLogStream.Format)
          .option("path", up).load()
          .withColumn("v2", col("v") * 2)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            batchSizes.synchronized { batchSizes += ((id, b.count())) }
            CommitLog.appendBatch(down, b, id): Unit
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      // pacing: version 1 (2 rows) and version 2 (1 row) arrived as TWO
      // micro-batches, never coalesced — batch = one version increment
      assert(batchSizes.toList === List((0L, 2L), (1L, 1L)),
        s"got $batchSizes")
      assert(CommitLog.read(spark, down).count() === 3L)
      assert(CommitLog.committedBatchIds(down) === Set(0L, 1L))
      // upstream advances; a RESTARTED query resumes from the
      // checkpointed version — only the new increment flows, and the
      // exactly-once ledger shows no replays
      batchSizes.clear()
      stage("f3", Seq((4L, 40L), (5L, 50L), (6L, 60L)))
      CommitLog.commit(up, Seq("f3"), Nil, 2L)
      run()
      assert(batchSizes.toList === List((2L, 3L)), s"got $batchSizes")
      assert(CommitLog.read(spark, down).count() === 6L)
      assert(CommitLog.committedBatchIds(down) === Set(0L, 1L, 2L))
      // the transform rode the stream: downstream carries v2 = 2v exactly
      assert(CommitLog.read(spark, down)
        .filter(col("v2") =!= col("v") * 2).count() === 0L)
      // a REWRITE commit upstream poisons the increment contract: the
      // stream must refuse loudly (inherited from readIncrement), never
      // silently double-count the rewritten rows
      stage("f1_rw", Seq((1L, 10L), (2L, 20L)))
      CommitLog.commit(up, Seq("f1_rw"), Seq("f1"), 3L)
      val q3 = spark.readStream.format(CommitLogStream.Format)
        .option("path", up).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
        q3.awaitTermination(30000)
      }
      q3.stop()
      assert(err.getMessage.contains("non-append commit") ||
        Option(err.getCause).exists(_.getMessage.contains("non-append commit")))
    }
  }

  test("commit-log stream mode=cdf: insert/delete batches, replace " +
    "no-ops, restart resumes from the checkpointed version") {
    import graft.storage.CommitLog
    import org.apache.spark.sql.graft.CommitLogStream
    withTempDir("graft_cdf_") { root =>
      val (up, ckpt) = (s"$root/up", s"$root/ck")
      def stage(rel: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").write
          .parquet(s"${CommitLog.dataDir(up)}/$rel")
      stage("f1", Seq((1L, 10L), (2L, 20L)))
      CommitLog.commit(up, Seq("f1"), Nil, 0L) // v1: +2
      CommitLog.deleteRows(spark, up, CommitLog.liveFiles(up, 1L),
        col("k") === 2L)
        .coalesce(1).write.parquet(s"${CommitLog.dataDir(up)}/del2")
      CommitLog.commit(up, Nil, Nil, 1L, Map.empty, Seq("del2")) // v2: -1
      // v3: the fold, tagged replace — must stream as ZERO change rows
      CommitLog.read(spark, up, Some(2L))
        .coalesce(1).write.parquet(s"${CommitLog.dataDir(up)}/f1r")
      CommitLog.commitTagged(up, Seq("f1r"), Seq("f1", "del2"), 2L,
        op = Some("replace"))
      val batches = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Long, Long)] // (id, inserts, deletes)
      def run(): Unit = {
        val q = spark.readStream.format(CommitLogStream.Format)
          .option("path", up).option("mode", "cdf").load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val ins = b.filter(col("_change_type") === "insert").count()
            val del = b.filter(col("_change_type") === "delete").count()
            batches.synchronized { batches += ((id, ins, del)) }: Unit
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      // one version per micro-batch: v1 = 2 inserts, v2 = 1 delete
      // (with the deleted row's CONTENT), v3 = a replace no-op batch
      assert(batches.toList === List((0L, 2L, 0L), (1L, 0L, 1L),
        (2L, 0L, 0L)), s"got $batches")
      // restart: only the new append flows, from the checkpointed version
      batches.clear()
      stage("f2", Seq((5L, 50L)))
      CommitLog.commit(up, Seq("f2"), Nil, 3L) // v4: +1
      run()
      assert(batches.toList === List((3L, 1L, 0L)), s"got $batches")
    }
  }

  test("commit-log stream mode=cdf: a MERGE changeset streams as " +
    "update pairs") {
    import graft.storage.CommitLog
    import org.apache.spark.sql.graft.CommitLogStream
    withTempDir("graft_cdfm_") { root =>
      val (up, ckpt) = (s"$root/up", s"$root/ck")
      def stage(rel: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").write
          .parquet(s"${CommitLog.dataDir(up)}/$rel")
      stage("f1", Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      CommitLog.commit(up, Seq("f1"), Nil, 0L) // v1: +3
      // v2: a COW MERGE — k=2 updated to 99, k=3 deleted, k=4 inserted;
      // the writer attaches the changeset it already knows
      stage("f1m", Seq((1L, 10L), (2L, 99L), (4L, 40L)))
      Seq((3L, 30L, "delete"), (2L, 20L, "update_preimage"),
        (2L, 99L, "update_postimage"), (4L, 40L, "insert"))
        .toDF("k", "v", "_change_type")
        .coalesce(1).write.parquet(s"${CommitLog.dataDir(up)}/cs2")
      CommitLog.commitTagged(up, Seq("f1m"), Seq("f1"), 1L,
        op = Some("merge"), changeset = Some("cs2"))
      val batches = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Map[String, Long])]
      val q = spark.readStream.format(CommitLogStream.Format)
        .option("path", up).option("mode", "cdf").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val m = b.groupBy("_change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          batches.synchronized { batches += ((id, m)) }: Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(batches.toList === List(
        (0L, Map("insert" -> 3L)),
        (1L, Map("delete" -> 1L, "update_preimage" -> 1L,
          "update_postimage" -> 1L, "insert" -> 1L))), s"got $batches")
    }
  }

  test("commit-log stream: maxBytesPerBatch splits a backfill; " +
    "Trigger.AvailableNow drains through the pacing and stops") {
    import graft.storage.CommitLog
    import org.apache.spark.sql.graft.CommitLogStream
    withTempDir("graft_bp_up") { upDir =>
      val up = upDir.getAbsolutePath
      def stage(rel: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").write
          .parquet(s"${CommitLog.dataDir(up)}/$rel")
      (1 to 4).foreach { i =>
        stage(s"f$i", Seq((i.toLong, i * 10L)))
        CommitLog.commit(up, Seq(s"f$i"), Nil, i - 1L)
      }
      def drain(opts: Map[String, String]): List[Long] = {
        withTempDir("graft_bp_ck") { ckpt =>
          val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
          val q = spark.readStream.format(CommitLogStream.Format)
            .option("path", up).options(opts).load()
            .writeStream.option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              sizes.synchronized { sizes += b.count() }: Unit
            }
            .start()
          // AvailableNow pins the target at start and STOPS when drained —
          // awaitTermination, not processAllAvailable
          try assert(q.awaitTermination(120000),
            "AvailableNow query must terminate on its own") finally q.stop()
          sizes.toList
        }
      }
      // a 1-byte budget forces one version per batch even though the
      // version cap would allow all four at once: the 4-commit backfill
      // splits into four memory-bounded batches
      assert(drain(Map("maxVersionsPerBatch" -> "10",
        "maxBytesPerBatch" -> "1")) === List(1L, 1L, 1L, 1L))
      // a generous budget lets the version cap batch the whole backfill
      assert(drain(Map("maxVersionsPerBatch" -> "10",
        "maxBytesPerBatch" -> "1000000000")) === List(4L))
    }
  }

  test("commit-log stream on a branched log follows the main ref, " +
    "never a parked branch head (ADVICE r17)") {
    import graft.storage.CommitLog
    import org.apache.spark.sql.graft.CommitLogStream
    withTempDir("graft_br_") { root =>
      val (up, ckpt) = (s"$root/up", s"$root/ck")
      def stage(rel: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("k", "v").write
          .parquet(s"${CommitLog.dataDir(up)}/$rel")
      stage("f1", Seq((1L, 10L)))
      CommitLog.commit(up, Seq("f1"), Nil, 0L) // v1
      CommitLog.createRef(up, "main", 1L)
      // an unpublished candidate commits LAST on a branch: the global
      // max version is now off-main, and an offset tracking it would
      // wedge every lineage walk with the 'different branches' refusal
      CommitLog.createRef(up, "wap", 1L)
      stage("cand", Seq((99L, 990L)))
      CommitLog.commitToRef(up, "wap", Seq("cand"), Nil) // v2, parked
      val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
      def run(): Unit = {
        val q = spark.readStream.format(CommitLogStream.Format)
          .option("path", up).load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val ks = b.select("k").collect().map(_.getLong(0))
            keys.synchronized { keys ++= ks }: Unit
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      assert(keys.toList === List(1L),
        s"the stream must see ONLY main's rows, got $keys")
      // a clean candidate publishes by fast-forward; the stream follows
      stage("good", Seq((2L, 20L)))
      val gv = CommitLog.commitToRef(up, "main", Seq("good"), Nil) // v3
      assert(gv === 3L)
      keys.clear()
      run()
      assert(keys.toList === List(2L),
        s"after publish only the increment flows, got $keys")
    }
  }
}
