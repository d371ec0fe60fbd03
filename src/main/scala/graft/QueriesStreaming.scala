package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, MultimodalOps}
import graft.streaming.StreamingOps
import graft.sources.Tables
import graft.storage.CommitLog

/** Event-time windowing (batch-checkable forms of the streaming operators)
  * and multimodal-column queries.
  *
  * st1–st5 run the exact same transforms a `readStream` pipeline uses
  * (StreamingSpec proves the streaming paths give identical results,
  * including the interval join over two MemoryStreams and the
  * custom-state sessionizer's timeout flush); the oracle checks them over
  * the batch frame. m3 oracle-verifies the real header-decode slice of
  * the multimodal path; m2 oracle-verifies the real pixel-decode slice
  * (24bpp BMP pixel arrays, byte-level round trip).
  */
object QueriesStreaming {

  /** st12's pair of tables: stor9's three append commits as the
    * UPSTREAM, and a DOWNSTREAM commit-log table populated by a REAL
    * Structured Streaming query — `readStream` over the commit-log
    * source (offset = table version, one version per micro-batch),
    * a row-wise transform (stor14's qty-cents), and a `foreachBatch`
    * sink landing through [[graft.storage.CommitLog.appendBatch]]'s
    * exactly-once batch ledger. This is stor14's derived-table
    * contract with the ENGINE driving the increments instead of a
    * hand-rolled sync loop: the engine's checkpoint WAL carries the
    * consumed version, the manifest ledger dedups replays, and the
    * source inherits readIncrement's refusals (rewrite commits,
    * expired history). Built once by
    * [[QueriesStorage.buildOnce]]; StreamingSpec pins the live-stream properties (per-version
    * pacing, restart resume, loud refusal) on its own tables.
    */
  private[graft] def st12Tables(s: SparkSession,
      d: String): (String, String) = {
    import org.apache.spark.sql.graft.CommitLogStream
    val up = QueriesStorage.stor9Table(s, d)
    (up, QueriesStorage.buildOnce(d, "streamsync", "lineitem")(
        threeBatches) { down =>
      val q = s.readStream.format(CommitLogStream.Format)
        .option("path", up)
        .option("maxVersionsPerBatch", "1")
        .load()
        .select(col("l_orderkey"),
          floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
            .as("qty_cents"),
          col("ship"))
        .writeStream
        .option("checkpointLocation", s"$down/_streamckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          CommitLog.appendBatch(down, b, id): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    })
  }

  /** The probe of a downstream fed by three exactly-once micro-batches. */
  private def threeBatches(down: String): Boolean =
    CommitLog.latestVersion(down) >= 3L &&
      CommitLog.committedBatchIds(down) == Set(0L, 1L, 2L)

  /** st15's pair: a CDC-shaped UPSTREAM — three append commits of
    * keyed re-pricings over orders 1997 (the base, then price := k on
    * `k % 10 == 0`, then price := 2k on `k % 100 == 0`) — streamed
    * through the commit-log source (one version per micro-batch) into
    * a DOWNSTREAM table via [[graft.storage.CommitLog.upsertBatch]]:
    * each trigger lands the batch file plus its keys as an equality
    * delete in ONE exactly-once ledgered commit, so the downstream is
    * a keyed LATEST-STATE table (the Hudi streaming-upsert shape)
    * while st12's appendBatch downstream is an append log. Both are
    * built once by [[QueriesStorage.buildOnce]].
    */
  private[graft] def st15Tables(s: SparkSession,
      d: String): (String, String) = {
    import org.apache.spark.sql.graft.CommitLogStream
    val up = QueriesStorage.buildOnce(d, "cdcup", "orders")(
        CommitLog.latestVersion(_) >= 3L) { up =>
      val dd = CommitLog.dataDir(up)
      val o97 = graft.sources.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .filter(year(col("o_orderdate")) === 1997)
      o97.write.parquet(s"$dd/b1")
      CommitLog.commit(up, Seq("b1"), Nil, 0L)
      o97.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"))
        .write.parquet(s"$dd/b2")
      CommitLog.commit(up, Seq("b2"), Nil, 1L)
      o97.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          (col("o_orderkey") * 2).cast("double").as("o_totalprice"))
        .write.parquet(s"$dd/b3")
      CommitLog.commit(up, Seq("b3"), Nil, 2L)
    }
    (up, QueriesStorage.buildOnce(d, "streamupsert", "orders")(
        threeBatches) { down =>
      val q = s.readStream.format(CommitLogStream.Format)
        .option("path", up)
        .option("maxVersionsPerBatch", "1")
        .load()
        .writeStream
        .option("checkpointLocation", s"$down/_streamckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          CommitLog.upsertBatch(down, b, Seq("o_orderkey"), id): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    })
  }

  lazy val registry: Seq[Query] = Seq(
    // STREAMING MOR UPSERT (the Hudi streaming-upsert / CDC-ingestion
    // shape, completing st12's trio: append log → change feed → keyed
    // LATEST-STATE table): each micro-batch of the CDC stream lands
    // through upsertBatch — the batch file plus its keys as an
    // equality delete in ONE exactly-once ledgered commit, old key
    // versions masked atomically with the batch becoming visible,
    // O(batch) bytes per trigger and zero rewrites. The query
    // time-travels the downstream version by version: the row count
    // is INVARIANT (pure updates), the cents track each re-pricing
    // wave, and the batch ledger pins exactly-once. The oracle
    // recomputes every version's state from orders' 1997 era and the
    // %10/%100 re-pricing arithmetic.
    Query("st15_stream_upsert", (s, d) => {
      val (_, down) = st15Tables(s, d)
      val nBatches = CommitLog.committedBatchIds(down).size
      (1L to 3L).map { v =>
        CommitLog.read(s, down, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("cents"))
          .select(lit(v).as("version"), col("n_rows"), col("cents"),
            lit(nBatches.toLong).as("n_batches"))
      }.reduce(_ unionByName _)
    },
      // st15: per-version latest-state — the row count is invariant
      // (pure updates), cents track the %10 then %100 re-pricing
      // waves; 3 ledgered batches by construction.
      """WITH o97 AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents0
        |  FROM orders WHERE year(o_orderdate::DATE) = 1997)
        |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(cents0) AS BIGINT) AS cents,
        |  CAST(3 AS BIGINT) AS n_batches FROM o97
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CASE WHEN k % 10 = 0 THEN k * 100
        |    ELSE cents0 END) AS BIGINT), 3 FROM o97
        |UNION ALL
        |SELECT 3, count(*),
        |  CAST(sum(CASE WHEN k % 100 = 0 THEN k * 200
        |    WHEN k % 10 = 0 THEN k * 100
        |    ELSE cents0 END) AS BIGINT), 3 FROM o97""".stripMargin),
    // THE COMMIT LOG AS A STREAMING SOURCE (VERDICT r16 #2): the
    // downstream table below was populated by a real readStream over
    // the commit-log source — offset = table version, each micro-batch
    // exactly one version's increment, exactly-once landing through
    // appendBatch's manifest ledger. The query time-travels the
    // downstream version by version and reports the cumulative derived
    // state plus the batch ledger — cumulative sums reconstructing the
    // full upstream table is the stor9 discipline, and the oracle
    // recomputes every row from the upstream month windows (one
    // downstream version per upstream commit by the pacing contract).
    Query("st12_stream_commitlog", (s, d) => {
      val (_, down) = st12Tables(s, d)
      val nBatches = CommitLog.committedBatchIds(down).size
      (1L to 3L).map { v =>
        CommitLog.read(s, down, Some(v))
          .agg(count(lit(1)).as("rows_cum"),
            sum(col("qty_cents")).cast("long").as("sum_qty_cents_cum"))
          .select(lit(v).as("version"), col("rows_cum"),
            col("sum_qty_cents_cum"),
            lit(nBatches.toLong).as("n_batches"))
      }.reduce(_ unionByName _)
    },
      // st12: cumulative derived state per downstream version = the
      // upstream month windows, cumulatively (stor14's arithmetic); the
      // batch ledger is 3 by construction (one micro-batch per upstream
      // commit under the pacing contract, ids 0..2 on a fresh
      // checkpoint).
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |v(version, hi) AS (VALUES
        |  (CAST(1 AS BIGINT), DATE '1996-12-31'),
        |  (2, DATE '1998-12-31'), (3, DATE '9999-12-31'))
        |SELECT v.version,
        |  CAST(sum(f.n_rows) AS BIGINT) AS rows_cum,
        |  CAST(sum(f.cents) AS BIGINT) AS sum_qty_cents_cum,
        |  CAST(3 AS BIGINT) AS n_batches
        |FROM v JOIN f ON f.m <= v.hi
        |GROUP BY 1""".stripMargin),

    // CHANGE DATA FEED over the commit log (the Delta CDF / Iceberg
    // changelog idea): the stor15 merge-on-read table's history —
    // v1 append (every month), v2 positional delete (the ship
    // window), v3 fold tagged `replace` — rendered as row-level
    // changes: v1's rows as `insert`, v2's marked rows (content read
    // back from the parent snapshot at the recorded positions) as
    // `delete`, v3 as NOTHING (a physical rewrite has no logical
    // change; untagged rewrites refuse — CommitLogBranchSpec). This
    // is the production answer to the file-level increment contract's
    // refusal to cross a delete: downstream tables consume erasures
    // as O(changed rows). The same feed streams via the commit-log
    // source's mode=cdf (StreamingSpec). The oracle recomputes both
    // change sets from raw lineitem window arithmetic.
    Query("st13_cdf", (s, d) => {
      val t = QueriesStorage.stor15Table(s, d)
      CommitLog.changes(s, t, 0L, 3L)
        .select(col("_commit_version").as("version"),
          col("_change_type").as("change_type"),
          floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
            .as("cents"))
        .groupBy("version", "change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_qty_cents"))
    },
      // st13: the change feed from raw window arithmetic — v1 inserts
      // everything, v2 deletes exactly the [1997-04-15, 1997-06-20) ship
      // window (stor15's shared ground truth), v3 (the tagged fold)
      // contributes no change rows at all.
      """WITH t AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n_all,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= DATE '1997-04-15'
        |      AND l_shipdate::DATE < DATE '1997-06-20'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= DATE '1997-04-15'
        |      AND l_shipdate::DATE < DATE '1997-06-20'
        |      THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS c_del
        |  FROM lineitem)
        |SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
        |  n_all AS n_rows, c_all AS sum_qty_cents FROM t
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'delete', n_del, c_del FROM t""".stripMargin),
    // CDF UPDATE PAIRS ACROSS A MERGE (VERDICT r17 #2 — the gap st13
    // left): stor13's COW MERGE commit now carries a CHANGESET the
    // writer recorded at commit time (the Delta `_change_data` idea),
    // so the feed renders the rewrite as update_preimage/postimage
    // PAIRS plus inserts and deletes instead of refusing — a
    // downstream sync applies an update across the MERGE as O(changed
    // rows) where r17's feed forced a full rebuild. The query proves
    // the CDF contract end-to-end: applying the feed to read(v1)
    // (minus = delete ∪ update_preimage anti-joined on full content,
    // plus = insert ∪ update_postimage unioned) reconstructs read(v2)
    // EXACTLY — the symmetric difference, computed distributively as
    // a full-outer join of row-multiset counts, is zero — alongside
    // the feed's change-type ledger and both sides' row/cent
    // checksums. The oracle recomputes everything from stor13's band
    // arithmetic over raw orders.
    Query("st14_cdf_update_pairs", (s, d) => {
      val t = QueriesStorage.stor13Table(s, d)
      val feed = CommitLog.changes(s, t, 1L, 2L)
      val minus = feed.filter(col("_change_type")
        .isin("delete", "update_preimage"))
        .select(col("o_orderkey"), col("o_totalprice"))
      val plus = feed.filter(col("_change_type")
        .isin("insert", "update_postimage"))
        .select(col("o_orderkey"), col("o_totalprice"))
      val rebuilt = CommitLog.read(s, t, Some(1L))
        .join(minus, Seq("o_orderkey", "o_totalprice"), "left_anti")
        .unionByName(plus)
      val v2 = CommitLog.read(s, t, Some(2L))
      def cents = sum(floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")).cast("long")
      // coalesce: an EMPTY feed must ledger as zeros, never NULLs (a
      // NULL count reads back as float64 and hash-fails the driver)
      def n(tp: String) = coalesce(
        sum(when(col("_change_type") === tp, 1L).otherwise(0L)),
        lit(0L))
      val ledger = feed.agg(
        n("delete").as("n_delete"),
        n("update_preimage").as("n_update_pre"),
        n("update_postimage").as("n_update_post"),
        n("insert").as("n_insert"))
      val ra = rebuilt.agg(count(lit(1)).as("rows_rebuilt"),
        cents.as("cents_rebuilt"))
      val va = v2.agg(count(lit(1)).as("rows_v2"), cents.as("cents_v2"))
      // exact multiset equality, in-plan: per-row counts full-outer
      // joined, absolute differences summed — 0 iff rebuilt ≡ v2
      val da = rebuilt.groupBy("o_orderkey", "o_totalprice")
        .agg(count(lit(1)).as("na"))
      val db = v2.groupBy("o_orderkey", "o_totalprice")
        .agg(count(lit(1)).as("nb"))
      val sym = da.join(db, Seq("o_orderkey", "o_totalprice"),
        "full_outer")
        .agg(coalesce(sum(abs(coalesce(col("na"), lit(0L)) -
          coalesce(col("nb"), lit(0L)))), lit(0L)).cast("long")
          .as("sym_diff"))
      ledger.crossJoin(broadcast(va)).crossJoin(broadcast(ra))
        .crossJoin(broadcast(sym))
        .select(col("n_delete"), col("n_update_pre"),
          col("n_update_post"), col("n_insert"),
          col("rows_v2"), col("rows_rebuilt"),
          col("cents_v2"), col("cents_rebuilt"), col("sym_diff"))
    },
      // st14: the MERGE changeset ledger and the reconstruction parity
      // from stor13's band arithmetic over raw orders — update pairs
      // count the band's k%3=0 keys, rebuilt ≡ v2 so both sides carry
      // the head checksum and the symmetric difference is exactly 0.
      """WITH p AS (SELECT max(o_orderkey) AS mx, count(*) AS n
        |  FROM orders),
        |rk AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
        |bnd AS (SELECT
        |    (SELECT o_orderkey + 1 FROM rk, p WHERE rn = p.n // 4)
        |      AS lo,
        |    (SELECT o_orderkey + 1 FROM rk, p
        |      WHERE rn = p.n // 4 + p.n // 20) AS hi),
        |b AS (SELECT o.o_orderkey AS k, o.o_totalprice AS pr,
        |    (o.o_orderkey >= bnd.lo AND o.o_orderkey < bnd.hi) AS band
        |  FROM orders o CROSS JOIN bnd),
        |r AS (SELECT count(*) AS rows_v1,
        |    CAST(sum(CASE WHEN band AND k % 3 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_delete,
        |    CAST(sum(CASE WHEN band AND k % 3 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_upd,
        |    CAST(sum(CASE WHEN band AND k % 3 = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_insert,
        |    CAST(sum(CASE WHEN band AND k % 3 = 1 THEN 0
        |        WHEN band AND k % 3 = 0 THEN k * 100
        |        ELSE CAST(floor(pr * 100 + 0.5) AS BIGINT) END)
        |      + sum(CASE WHEN band AND k % 3 = 2 THEN k * 100
        |        ELSE 0 END) AS BIGINT) AS cents_head
        |  FROM b)
        |SELECT n_delete, n_upd AS n_update_pre, n_upd AS n_update_post,
        |  n_insert,
        |  rows_v1 + n_insert - n_delete AS rows_v2,
        |  rows_v1 + n_insert - n_delete AS rows_rebuilt,
        |  cents_head AS cents_v2, cents_head AS cents_rebuilt,
        |  CAST(0 AS BIGINT) AS sym_diff
        |FROM r""".stripMargin),

    // Tumbling 1-hour event-time windows per event type.
    Query("st1_tumbling_window", (s, d) => {
      StreamingOps.tumblingAgg(Tables.events(s, d), "ts", "1 hour",
        Seq("event_type"))
    },
      // st1's mean is HALF-UP in exact integer micro-units (mirroring
      // tumblingAgg): round() on the double ratio disagreed across
      // engines at an exact 6dp half boundary (caught by the sf1 gate).
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST((CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) + count(*) // 2) // count(*) AS DOUBLE)
        |    / 1e6 AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Sliding 2-hour windows advancing hourly.
    Query("st2_sliding_window", (s, d) => {
      StreamingOps.slidingAgg(Tables.events(s, d), "ts", "2 hours",
        "1 hour", Seq("event_type"))
    },
      """SELECT w AS window_start, event_type, count(*) AS n_events
        |FROM (SELECT event_type, unnest([date_trunc('hour', ts),
        |  date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w FROM events)
        |GROUP BY 1, 2""".stripMargin),

    // Per-user session windows with a 30-minute gap.
    Query("st3_session_window", (s, d) => {
      StreamingOps.sessionAgg(Tables.events(s, d), "ts", "30 minutes",
        Seq("user_id"))
    },
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sess""".stripMargin),

    // Custom-state sessionization (flatMapGroupsWithState) in batch mode:
    // same semantics as st3's built-in session window, so the same oracle
    // verifies the hand-rolled state machine end-to-end.
    Query("st5_custom_state", (s, d) => {
      StreamingOps.sessionizeWithState(Tables.events(s, d), "user_id",
        "ts", gapSeconds = 1800L, emitOpen = true)
    },
      // identical semantics to st3 — the built-in session window is the
      // custom-state operator's executable spec
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sess""".stripMargin),

    // Per-key admission quota (first 5 events per user, event-time
    // order) via the minimal flatMapGroupsWithState machine — one long
    // of state per key. Batch form here equals "row_number ≤ 5"
    // (the SQL oracle); StreamingSpec drives the same operator over a
    // MemoryStream across micro-batches and asserts the count
    // PERSISTS (3 admitted in batch 1 leaves only 2 admissions ever
    // after).
    Query("st10_quota", (s, d) => {
      StreamingOps.rateLimitWithState(Tables.events(s, d), "user_id",
        "ts", "event_id", quota = 5)
    },
      """WITH r AS (SELECT user_id, event_id, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts, CAST(rn AS BIGINT) AS admit_rank
        |FROM r WHERE rn <= 5""".stripMargin),

    // Stream-stream interval join (clicks within 1 h after an error, per
    // user) run over the batch frame — `withWatermark` is a no-op in
    // batch, so this is the exact operator StreamingSpec drives over two
    // MemoryStreams, now under the driver's oracle gate too. Semantics
    // match j9_range_join's oracle form.
    Query("st4_interval_join", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("err_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      StreamingOps.streamIntervalJoin(errors, clicks, "user_id",
        "err_ts", "click_ts", "2 hours", 3600L)
        .select("user_id", "error_id", "click_id")
    },
      """SELECT c.user_id, e.event_id AS error_id, c.event_id AS click_id
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |    AND c.ts <= e.ts + INTERVAL 1 HOUR""".stripMargin),

    // LEFT-OUTER interval join (batch form): every error keeps a row
    // even with no click within the hour — the null-preserving
    // streaming join whose unmatched rows emit exactly when the
    // watermark proves no match can still arrive. Errors that never
    // converted are usually the rows an incident pipeline most wants.
    Query("st9_interval_outer", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("err_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      StreamingOps.streamIntervalJoinOuter(errors, clicks, "user_id",
        "err_ts", "click_ts", "2 hours", 3600L)
        .select("user_id", "error_id", "click_id")
    },
      // st9 mirrors st4 with the join sides swapped to LEFT-preserve
      // the errors.
      """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click') c
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |    AND c.ts <= e.ts + INTERVAL 1 HOUR""".stripMargin),

    // Stream-static enrichment (batch form): events broadcast-joined to
    // the customer dim, aggregated per (event_type, segment). LEFT join
    // — dim misses survive as 'unknown' instead of silently dropping
    // events. StreamingSpec drives the identical transform over a
    // MemoryStream and asserts parity.
    Query("st6_stream_enrich", (s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      StreamingOps.enrichWithDim(Tables.events(s, d), dim,
        col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"),
          coalesce(col("c_mktsegment"), lit("unknown")).as("segment"))
        // fixed-point sum (the st1 discipline): an FP sum over doubles
        // is partition-order-dependent; the integer sum is exact
        .agg(count(lit(1)).as("n"),
          round(sum(floor(col("value") * 1e6 + 0.5)) / 1e6, 2)
            .as("total_value"))
    },
      """SELECT event_type, coalesce(c_mktsegment, 'unknown') AS segment,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
        |    AS BIGINT) / 1e6, 2) AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin),

    // Windowed trending top-k — "top 3 event types per 6-hour window",
    // the dashboard query every event stream serves. The windowed
    // count is fully streaming-capable (epoch-aligned tumbling agg;
    // StreamingSpec drives it over a MemoryStream in complete mode);
    // the rank is applied per emitted window — rank is not an
    // incremental operator, so production serves it per-batch/
    // per-sink-refresh, which is exactly what the batch form states.
    // WindowGroupLimit bounds the rank shuffle to O(windows·k).
    Query("st11_windowed_topk", (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(window(col("ts").cast("timestamp"), "6 hours"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"))
      graft.operators.RelationalOps.topKPerGroup(counts,
        Seq("win_start"), Seq(col("n").desc, col("event_type").asc), 3,
        rankCol = "rank")
        .select(col("win_start"), col("event_type"), col("n"),
          col("rank").cast("long").as("rank"))
    },
      // st11: identical epoch alignment via integer micro division.
      """WITH c AS (SELECT make_timestamp((epoch_us(ts) // 21600000000)
        |      * 21600000000) AS win_start, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY win_start
        |    ORDER BY n DESC, event_type) AS rank FROM c)
        |SELECT win_start, event_type, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin),

    // Multimodal metadata: byte length + content hash + fake-decoded dims
    // (SQL-expressible slice of the decode, so it gets a real oracle).
    Query("m1_multimodal_meta", (s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long")
          .as("n_bytes"),
        md5(col("text")).as("content_md5"),
        (DedupOps.hash60(lit("w"), col("text")) % 640 + 1).as("width"),
        (DedupOps.hash60(lit("h"), col("text")) % 480 + 1).as("height"))
    },
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(concat('0x', substr(md5(concat('w:', text)), 1, 15))
        |    AS BIGINT) % 640 + 1 AS width,
        |  CAST(concat('0x', substr(md5(concat('h:', text)), 1, 15))
        |    AS BIGINT) % 480 + 1 AS height
        |FROM documents""".stripMargin
  ),

    // REAL pixel decode: synthesize complete 24bpp BMPs (headers + a
    // deterministic pixel array), parse the pixel bytes back out, and
    // reduce them to brightness + a 16-bin histogram. The oracle
    // recomputes the statistics from the same md5-seeded pixel formula,
    // so a decode that misreads any byte — offset, row size, sign
    // extension — shifts a bin and fails the hash. Ratios are rounded in
    // the query layer from the decoder's exact integer stats (see
    // PixelStats); the histogram is emitted LONG-FORM (one row per bin)
    // so every output column is a hash-friendly scalar.
    Query("m2_decode_features", (s, d) => {
      val n = (col("width") * col("height") * lit(3)).cast("double")
      MultimodalOps.decodePixelStats(
        MultimodalOps.synthesizePixelBmps(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          round(col("px_sum") / n, 6).as("brightness"),
          posexplode(col("hist")))
        .select(col("doc_id"), col("width"), col("height"),
          col("brightness"), col("pos").cast("long").as("bin"),
          round(col("col") / n, 6).as("bin_ratio"))
    },
      """WITH p AS (SELECT doc_id,
        |  (CAST(concat('0x', substr(md5(concat('pw:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 4 AS width,
        |  CAST(concat('0x', substr(md5(concat('ph:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1 AS height,
        |  CAST(concat('0x', substr(md5(concat('pa:', text)), 1, 15))
        |    AS BIGINT) % 256 AS a,
        |  CAST(concat('0x', substr(md5(concat('pb:', text)), 1, 15))
        |    AS BIGINT) % 256 AS b
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |  list_transform(range(width * height * 3),
        |    i -> (a * i + b) % 256) AS vs
        |  FROM p)
        |SELECT doc_id, width, height,
        |  round(list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
        |      (x, y) -> x + y)
        |    / CAST(width * height * 3 AS DOUBLE), 6) AS brightness,
        |  bin,
        |  round(len(list_filter(vs, v -> v // 16 = bin))
        |    / CAST(width * height * 3 AS DOUBLE), 6) AS bin_ratio
        |FROM px CROSS JOIN (SELECT unnest(range(16)) AS bin) r(bin)"""
        .stripMargin),

    // REAL resize: synthesize full-pixel BMPs, nearest-neighbor them to
    // an 8x4 thumbnail (actual byte sampling, re-encoded as a real BMP),
    // then decode the thumbnail's pixel stats. The oracle recomputes the
    // NN coordinate mapping (srcIdx = ((y*h/th)*w + x*w/tw)*3 + c,
    // integer floors) over the same md5-seeded source formula — a resize
    // that samples any wrong source byte shifts the sum and fails the
    // hash.
    Query("m4_thumbnail", (s, d) => {
      val n = (col("width") * col("height") * lit(3)).cast("double")
      MultimodalOps.decodePixelStats(
        MultimodalOps.thumbnails(
          MultimodalOps.synthesizePixelBmps(Tables.documents(s, d)), 8, 4))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("px_sum"), round(col("px_sum") / n, 6).as("brightness"))
    },
      """WITH p AS (SELECT doc_id,
        |  (CAST(concat('0x', substr(md5(concat('pw:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 4 AS w,
        |  CAST(concat('0x', substr(md5(concat('ph:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1 AS h,
        |  CAST(concat('0x', substr(md5(concat('pa:', text)), 1, 15))
        |    AS BIGINT) % 256 AS a,
        |  CAST(concat('0x', substr(md5(concat('pb:', text)), 1, 15))
        |    AS BIGINT) % 256 AS b
        |  FROM documents),
        |v AS (SELECT doc_id,
        |  list_transform(range(96), j ->
        |    (a * (((((j // 24) * h) // 4) * w
        |             + (((j % 24) // 3) * w) // 8) * 3
        |           + (j % 3))
        |     + b) % 256) AS vs
        |  FROM p)
        |SELECT doc_id, CAST(8 AS BIGINT) AS width,
        |  CAST(4 AS BIGINT) AS height,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
        |    (x, y) -> x + y) AS px_sum,
        |  round(list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
        |    (x, y) -> x + y) / CAST(96 AS DOUBLE), 6) AS brightness
        |FROM v""".stripMargin),

    // REAL audio decode: synthesize complete WAV files (RIFF header + a
    // deterministic PCM16 stream), parse the sample bytes back out, and
    // reduce them to peak amplitude + RMS. The oracle regenerates the
    // samples from the same md5-seeded recurrence — a decode that
    // misreads offset, endianness, or sign fails the hash. RMS uses
    // sqrt (IEEE correctly-rounded, unlike log) over the exact integer
    // square sum, so the double agrees across engines.
    Query("m5_wav_decode", (s, d) => {
      MultimodalOps.decodeAudioStats(
        MultimodalOps.synthesizeWavs(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("peak"),
          round(sqrt(col("sq_sum") / col("n_samples").cast("double")), 6)
            .as("rms"))
    },
      """WITH p AS (SELECT doc_id,
        |  8000 + CAST(concat('0x', substr(md5(concat('ws:', text)),
        |    1, 15)) AS BIGINT) % 8 * 1000 AS sample_rate,
        |  CAST(concat('0x', substr(md5(concat('wn:', text)), 1, 15))
        |    AS BIGINT) % 256 + 16 AS n_samples,
        |  CAST(concat('0x', substr(md5(concat('wa:', text)), 1, 15))
        |    AS BIGINT) % 65536 AS a,
        |  CAST(concat('0x', substr(md5(concat('wb:', text)), 1, 15))
        |    AS BIGINT) % 65536 AS b
        |  FROM documents),
        |v AS (SELECT doc_id, sample_rate, n_samples,
        |  list_transform(range(n_samples),
        |    i -> (a * i + b) % 65536 - 32768) AS vs
        |  FROM p)
        |SELECT doc_id, sample_rate, n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
        |    (x, y) -> greatest(x, CAST(abs(y) AS BIGINT))) AS peak,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(vs, s -> s * s)), (x, y) -> x + y)
        |    / CAST(n_samples AS DOUBLE)), 6) AS rms
        |FROM v""".stripMargin),

    // REAL audio DYNAMICS decode — m5's time-domain sibling: the same
    // synthesized WAV payloads parsed back to zero-crossing count and
    // mean |sample| (the voiced/unvoiced + loudness screen an audio
    // curation pass runs before transcription). The oracle regenerates
    // the sample recurrence and counts sign-bit changes with the same
    // `s < 0` convention — a decode that misreads sign, offset, or
    // endianness shifts the crossing count and fails the hash. Exact
    // integers except the one rounded mean at output.
    Query("m8_audio_dynamics", (s, d) => {
      MultimodalOps.decodeAudioDynamics(
        MultimodalOps.synthesizeWavs(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("zero_crossings"),
          round(col("abs_sum") / col("n_samples").cast("double"), 6)
            .as("mean_abs"))
    },
      """WITH p AS (SELECT doc_id,
        |  8000 + CAST(concat('0x', substr(md5(concat('ws:', text)),
        |    1, 15)) AS BIGINT) % 8 * 1000 AS sample_rate,
        |  CAST(concat('0x', substr(md5(concat('wn:', text)), 1, 15))
        |    AS BIGINT) % 256 + 16 AS n_samples,
        |  CAST(concat('0x', substr(md5(concat('wa:', text)), 1, 15))
        |    AS BIGINT) % 65536 AS a,
        |  CAST(concat('0x', substr(md5(concat('wb:', text)), 1, 15))
        |    AS BIGINT) % 65536 AS b
        |  FROM documents),
        |v AS (SELECT doc_id, sample_rate, n_samples,
        |  list_transform(range(n_samples),
        |    i -> (a * i + b) % 65536 - 32768) AS vs
        |  FROM p)
        |SELECT doc_id, sample_rate, n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(n_samples - 1),
        |      i -> CASE WHEN (vs[i + 1] < 0) <> (vs[i + 2] < 0)
        |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        |    (x, y) -> x + y) AS zero_crossings,
        |  round(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(vs, s -> CAST(abs(s) AS BIGINT))),
        |      (x, y) -> x + y)
        |    / CAST(n_samples AS DOUBLE), 6) AS mean_abs
        |FROM v""".stripMargin),

    // REAL video decode: synthesize complete Y4M streams (ASCII header
    // + FRAME-marked uncompressed 4:2:0 planes), parse header/markers/
    // plane bytes back out, recover the frame COUNT from the stream
    // itself, and sample every 2nd frame with its exact byte sum. The
    // oracle regenerates the per-frame sums from the same md5-seeded
    // byte recurrence — a decode that miscounts frames, desyncs from a
    // marker, or misreads any plane byte fails the hash. This closes
    // the modality triple: m2-m4 image pixels, m5 audio samples, m6
    // video frames — all byte-level round trips.
    Query("m6_video_decode", (s, d) => {
      val dec = MultimodalOps.decodeVideoStats(
        MultimodalOps.synthesizeVideos(Tables.documents(s, d))).toDF()
      MultimodalOps.sampleFrames(dec, 2)
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("frame_idx"),
          element_at(col("f_sums"), (col("frame_idx") + 1).cast("int"))
            .as("f_sum"))
    },
      """WITH p AS (SELECT doc_id,
        |  (CAST(concat('0x', substr(md5(concat('vw:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 2 AS width,
        |  (CAST(concat('0x', substr(md5(concat('vh:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 2 AS height,
        |  CAST(concat('0x', substr(md5(concat('vf:', text)), 1, 15))
        |    AS BIGINT) % 8 + 2 AS n_frames,
        |  CAST(concat('0x', substr(md5(concat('va:', text)), 1, 15))
        |    AS BIGINT) % 256 AS a,
        |  CAST(concat('0x', substr(md5(concat('vb:', text)), 1, 15))
        |    AS BIGINT) % 256 AS b
        |  FROM documents),
        |f AS (SELECT doc_id, width, height, n_frames, a, b,
        |      unnest(range(0, n_frames, 2)) AS frame_idx FROM p)
        |SELECT doc_id, width, height, n_frames, frame_idx,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(width * height * 3 // 2),
        |      i -> (a * (frame_idx * (width * height * 3 // 2) + i) + b)
        |        % 256)),
        |    (x, y) -> x + y) AS f_sum
        |FROM f""".stripMargin),

    // Scene-change detection — the temporal segmentation step a video
    // curation pass runs before sampling training frames (frames
    // inside one scene are near-duplicates; cuts are where content
    // changes). The synthesized streams have REAL scene structure
    // (per-scene byte recurrences + md5-seeded cut positions), the
    // decode reduces adjacent REAL frame pairs to absolute-difference
    // energy (one previous-frame buffer of state — O(frame), however
    // long the stream), and the query thresholds mean-absolute-
    // difference per pixel byte (MAD > 16 ⇒ cut; within-scene MAD ≤ 5
    // by construction — wrap-free jitter — cross-scene ≈ 83). The
    // oracle regenerates every
    // byte analytically — a decode that desyncs from a marker or
    // misreads a plane byte shifts an energy and fails the hash.
    Query("m9_scene_change", (s, d) => {
      val dec = MultimodalOps.decodeVideoDiffs(
        MultimodalOps.synthesizeSceneVideos(Tables.documents(s, d)))
        .toDF()
      dec.select(col("doc_id"), col("n_frames"),
          expr("width * height * 3 DIV 2").as("fs"),
          posexplode(col("d_sums")).as(Seq("pos", "dsum")))
        .select(col("doc_id"), col("n_frames"),
          (col("pos") + 1).cast("long").as("frame_idx"), col("dsum"),
          round(col("dsum").cast("double") / col("fs").cast("double"), 6)
            .as("mad"),
          (col("dsum") > col("fs") * 16).cast("long").as("is_cut"))
    },
      // m9: the oracle regenerates the scene-structured byte recurrence
      // analytically — the same md5-seeded cut flags (running-sum scene
      // ids over a window), per-scene slopes, +k frame jitter — and
      // derives each adjacent-pair difference energy with a bounded
      // list fold, mirroring the decoded-bytes computation exactly.
      """WITH p AS (SELECT doc_id, text,
        |  (CAST(concat('0x', substr(md5(concat('scw:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 2 AS w,
        |  (CAST(concat('0x', substr(md5(concat('sch:', text)), 1, 15))
        |    AS BIGINT) % 8 + 1) * 2 AS h,
        |  CAST(concat('0x', substr(md5(concat('vf:', text)), 1, 15))
        |    AS BIGINT) % 8 + 2 AS nf
        |  FROM documents),
        |fr AS (SELECT doc_id, text, w, h, nf,
        |    unnest(range(nf)) AS k FROM p),
        |sc AS (SELECT doc_id, text, w, h, nf, k,
        |  sum(CASE WHEN k >= 1 AND CAST(concat('0x', substr(md5(
        |        concat('vc', CAST(k AS VARCHAR), ':', text)), 1, 15))
        |        AS BIGINT) % 4 = 0
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY k) AS s
        |  FROM fr),
        |ab AS (SELECT doc_id, w, h, nf, k,
        |  CAST(concat('0x', substr(md5(concat('sva', CAST(s AS VARCHAR),
        |    ':', text)), 1, 15)) AS BIGINT) % 256 AS a,
        |  CAST(concat('0x', substr(md5(concat('svb', CAST(s AS VARCHAR),
        |    ':', text)), 1, 15)) AS BIGINT) % 256 AS b
        |  FROM sc),
        |lg AS (SELECT doc_id, w, h, nf, k, a, b,
        |  lag(a) OVER (PARTITION BY doc_id ORDER BY k) AS pa,
        |  lag(b) OVER (PARTITION BY doc_id ORDER BY k) AS pb FROM ab),
        |df AS (SELECT doc_id, nf, k, w * h * 3 // 2 AS fs,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(w * h * 3 // 2),
        |      i -> CAST(abs(((a * i + b) % 250 + k % 6)
        |        - ((pa * i + pb) % 250 + (k - 1) % 6)) AS BIGINT))),
        |    (x, y) -> x + y) AS dsum
        |  FROM lg WHERE k >= 1)
        |SELECT doc_id, nf AS n_frames, CAST(k AS BIGINT) AS frame_idx,
        |  dsum,
        |  round(CAST(dsum AS DOUBLE) / CAST(fs AS DOUBLE), 6) AS mad,
        |  CAST(CASE WHEN dsum > fs * 16 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_cut
        |FROM df""".stripMargin),

    // Perceptual-hash image dedup — the multimodal→dedup bridge: the
    // subject-keyed 8×8 BMPs (near-dup documents share a text prefix,
    // so their images differ only by clamped ±3 noise) are REALLY
    // decoded back to 64 exact integer grays (MultimodalOps
    // .decodeGrayGrid — byte-level BMP parse, unsigned reads), the
    // average-hash fingerprint derives in the query layer with pure
    // integer arithmetic (bit p = gray_p·64 > Σgray — no division, no
    // mean rounding to disagree on), and pairs come from d5's
    // chunk-banded SimHash machinery (pigeonhole-complete for
    // hamming ≤ 3, df-capped postings — never all-pairs). This is how
    // an image corpus dedups at 100 TB: decode once, 8-byte
    // fingerprints, banded candidate generation.
    Query("m7_phash_neardup", (s, d) => {
      val grids = MultimodalOps.decodeGrayGrid(
        MultimodalOps.synthesizeSubjectBmps(Tables.documents(s, d)))
        .toDF()
      val sigs = grids
        .withColumn("gsum",
          aggregate(col("grays"), lit(0L), (acc, x) => acc + x))
        .withColumn("simhash", expr(
          "aggregate(transform(slice(grays, 1, 60), (g, i) -> " +
            "IF(g * 64 > gsum, shiftleft(CAST(1 AS BIGINT), i), " +
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), " +
            "(acc, x) -> acc + x)"))
        .select(col("doc_id").as("id"), col("simhash"))
      DedupOps.simhashPairs(sigs, maxHamming = 3)
    },
      // m7: the oracle regenerates the subject-keyed pixels analytically
      // (same md5 seeds, same clamp), derives the identical integer
      // aHash, and mirrors d5's chunk-banded candidate generation
      // including the df cap — formula-vs-decoded-bytes, so any decode
      // misread flips a gray and fails the hash.
      """WITH p AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('sa:',
        |    substr(lower(text), 1, 12))), 1, 15)) AS BIGINT) % 256
        |    AS a,
        |  CAST(concat('0x', substr(md5(concat('sb:',
        |    substr(lower(text), 1, 12))), 1, 15)) AS BIGINT) % 256
        |    AS b,
        |  CAST(concat('0x', substr(md5(concat('sn:',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 97 AS c
        |  FROM documents),
        |px AS (SELECT doc_id,
        |  list_transform(range(192), i -> least(255, greatest(0,
        |    (a * i + b) % 256 + ((c * (i + 1)) % 7 - 3)))) AS v
        |  FROM p),
        |gr AS (SELECT doc_id,
        |  list_transform(range(64), q ->
        |    (v[3*q + 1] + v[3*q + 2] + v[3*q + 3]) // 3) AS g
        |  FROM px),
        |gs AS (SELECT doc_id, g,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), g),
        |    (x, y) -> x + y) AS gsum FROM gr),
        |sh AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN g[q + 1] * 64 > gsum
        |    THEN CAST(1 AS BIGINT) << q ELSE 0 END) AS BIGINT)
        |    AS simhash
        |  FROM gs CROSS JOIN (SELECT unnest(range(60)) AS q) r(q)
        |  GROUP BY doc_id),
        |c AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767
        |    AS chunk
        |  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS j) r(j)),
        |rare AS (SELECT j, chunk FROM c GROUP BY j, chunk
        |  HAVING count(*) <= 10000),
        |cf AS (SELECT c.* FROM c JOIN rare USING (j, chunk)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.simhash AS sim_a, b.simhash AS sim_b
        |  FROM cf a JOIN cf b ON a.j = b.j AND a.chunk = b.chunk
        |    AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3"""
        .stripMargin),

    // Watermark dedup in batch form: dropDuplicatesWithinWatermark's
    // batch-checkable shape — keep the FIRST event per dedup key within
    // each bounded event-time horizon (1 h tumbling window +
    // row_number). A key re-appearing in a LATER horizon is kept again:
    // bounded state is the whole point of watermarked dedup vs a global
    // dropDuplicates, and it is what the oracle pins here. The
    // streaming mode (dropDuplicatesWithinWatermark over a MemoryStream)
    // is spec-driven in StreamingSpec; this closes the st family's
    // oracle coverage.
    Query("st7_watermark_dedup", (s, d) => {
      StreamingOps.dedupWithinHorizon(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id", "1 hour")
        .select("user_id", "event_type", "window_start", "event_id", "ts")
    },
      """WITH r AS (SELECT user_id, event_type,
        |  date_trunc('hour', ts) AS window_start, event_id, ts,
        |  row_number() OVER (
        |    PARTITION BY user_id, event_type, date_trunc('hour', ts)
        |    ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, window_start, event_id, ts
        |FROM r WHERE rn = 1""".stripMargin),

    // Out-of-orderness profile — the measurement that SIZES a
    // watermark: per event type, how many events arrived (event_id =
    // arrival order) with an event time EARLIER than the per-user
    // high-water mark at that point, and the worst regression in exact
    // microseconds. A horizon at max_late_us drops nothing; p99-style
    // tightening reads straight off this profile. Per-user running max
    // over the strictly-preceding arrival frame (ONE window shuffle on
    // user_id, O(1) state per stream) + a type-sized hash agg — the
    // global-watermark variant would order the whole stream on ONE
    // partition, which this deliberately avoids.
    Query("st8_disorder", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          // explicit cast: the parquet column may arrive as
          // TIMESTAMP_NTZ (writer-dependent), which unix_micros
          // rejects; under the session's UTC timezone the cast is
          // value-preserving either way
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("hwm", max(col("us")).over(w))
        .select(col("event_type"),
          when(col("hwm") > col("us"), col("hwm") - col("us"))
            .otherwise(lit(0L)).as("late_by"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum((col("late_by") > 0).cast("long")).as("n_disordered"),
          max(col("late_by")).as("max_late_us"))
    },
      """WITH a AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events),
        |l AS (SELECT event_type,
        |        CASE WHEN hwm > us THEN hwm - us ELSE 0 END AS late_by
        |      FROM a)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_disordered,
        |  CAST(max(late_by) AS BIGINT) AS max_late_us
        |FROM l GROUP BY 1""".stripMargin),

    // REAL header decode: synthesize spec-conformant PNG/BMP files with
    // md5-derived dims, then parse format + width/height back out of the
    // actual bytes. The oracle recomputes the dims from the text with the
    // same formula, so a parse that misreads any header byte fails the
    // hash — this is the verified slice of the multimodal decode path.
    Query("m3_header_decode", (s, d) => {
      MultimodalOps.decodeHeaders(
        MultimodalOps.synthesizeImages(Tables.documents(s, d)))
        .toDF().select("doc_id", "format", "width", "height")
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(concat('0x', substr(md5(concat('w:', text)), 1, 15))
        |    AS BIGINT) % 640 + 1 AS width,
        |  CAST(concat('0x', substr(md5(concat('h:', text)), 1, 15))
        |    AS BIGINT) % 480 + 1 AS height
        |FROM documents""".stripMargin),

    // JPEG frame-header decode (VERDICT r15 #8 — real crawled corpora
    // are overwhelmingly JPEG): synthesize spec-conformant T.81 marker
    // streams (SOI + JFIF APP0 + SOF0/SOF2) with md5-derived dims and
    // component counts, then SCAN the actual bytes back out — marker
    // sync, fill bytes, standalone markers, segment lengths, and the
    // SOF0-vs-SOF2 distinction all parsed, with the hostile-header
    // gauntlet (bogus lengths, forged component tables, oversized
    // dims) spec-pinned in MultimodalOpsSpec. The oracle recomputes
    // every field from the text formulas, so a scan that misreads any
    // header byte fails the hash.
    Query("m10_jpeg_headers", (s, d) => {
      MultimodalOps.decodeJpegHeaders(
        MultimodalOps.synthesizeJpegs(Tables.documents(s, d)))
        .toDF()
        .select("doc_id", "progressive", "width", "height",
          "n_components")
    },
      // m10: every decoded field recomputed from the same md5 formulas
      // that seeded the encoder.
      """SELECT doc_id,
        |  doc_id % 2 = 0 AS progressive,
        |  CAST(concat('0x', substr(md5(concat('jw:', text)), 1, 15))
        |    AS BIGINT) % 640 + 1 AS width,
        |  CAST(concat('0x', substr(md5(concat('jh:', text)), 1, 15))
        |    AS BIGINT) % 480 + 1 AS height,
        |  CAST(concat('0x', substr(md5(concat('jc:', text)), 1, 15))
        |    AS BIGINT) % 2 * 2 + 1 AS n_components
        |FROM documents""".stripMargin))

}
