package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Open session carried in the state store between micro-batches
  * (event times in epoch micros — the state is a fixed 24 bytes/key).
  */
final case class OpenSession(startMicros: Long, lastMicros: Long, n: Long)

/** Closed session emitted downstream (converted to timestamps by
  * [[StreamingOps.sessionizeWithState]]'s final projection).
  */
final case class ClosedSession(key: Long, startMicros: Long,
    endMicros: Long, n_events: Long)

/** Admitted event emitted by [[StreamingOps.rateLimitWithState]] with
  * its per-key admission rank (1-based).
  */
final case class Admitted(key: Long, eventId: Long, tsMicros: Long,
    rank: Long)

/** Per-event lateness emitted by [[StreamingOps.disorderWithState]]:
  * how far (epoch micros) the event's time sits BEHIND the key's
  * high-water mark at its arrival (0 for in-order events).
  */
final case class LateBy(key: Long, eventId: Long, lateByMicros: Long)

/** Event-time windowing + streaming pipeline (SURVEY.md §2.10 / O1).
  *
  * The reference emulates streaming with an hourly Airflow schedule plus a
  * processing-time "last hour" filter and an anti-join
  * (`weather_report_data_inc_load_dag.py:101`, `..._inc_load_pipeline.py:85-99`).
  * Here the same capability is event-time-correct Structured Streaming:
  * every transform below is a plain DataFrame operation, so it runs
  * identically over a batch frame (how the DuckDB oracle checks it) and a
  * `readStream` frame (how it deploys — with watermarks bounding state).
  *
  * Scale notes: windowed aggregations shuffle on (window, keys) with
  * map-side partial aggregation; sliding windows multiply rows by
  * windowDuration/slideDuration before the shuffle (keep the ratio small);
  * session windows and dedup hold per-key state sized by the watermark
  * delay, not by history.
  */
object StreamingOps {

  /** Epoch micros of an event time — the state operators' time unit. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Tumbling event-time window aggregate (epoch-aligned).
    *
    * The average accumulates in FIXED POINT (values scaled to integer
    * micro-units, summed exactly, divided once at the end): float sums
    * are order-dependent, and at sf0.1 a ~6k-row group landed within
    * 1e-11 of a 6dp rounding boundary — Spark's and the oracle's
    * summation orders rounded to different digits. Integer addition is
    * associative, so the result is identical on any engine, any
    * partitioning, any scale (bound: |value|·1e6·rows < 2^63, i.e.
    * ~1.8e10 rows per group at |value|≤500 — raise to DECIMAL sums
    * beyond that).
    */
  def tumblingAgg(df: DataFrame, tsCol: String, duration: String,
      keys: Seq[String]): DataFrame =
    df.groupBy((window(col(tsCol), duration) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("__fx"))
      .select((col("window.start").as("window_start") +: keys.map(col)) :+
        col("n_events") :+
        // HALF-UP in exact integer micro-units, then ONE exact
        // long→double conversion — never round() on a double ratio:
        // engines disagree on round() when the true mean lands
        // exactly on a 6dp half boundary (sf1 surfaced one: DuckDB's
        // scale-multiply-then-nearbyint vs Spark's exact BigDecimal
        // HALF_UP); integer division cannot disagree. Nonnegative
        // operands, so Spark's truncating DIV == DuckDB's floor //
        (expr("(__fx + n_events DIV 2) DIV n_events").cast("double") /
          lit(1e6)).as("avg_value"): _*)

  /** Sliding event-time window aggregate. */
  def slidingAgg(df: DataFrame, tsCol: String, duration: String,
      slide: String, keys: Seq[String]): DataFrame =
    df.groupBy((window(col(tsCol), duration, slide) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((col("window.start").as("window_start") +: keys.map(col)) :+
        col("n_events"): _*)

  /** Session windows: events of a key merge while gaps stay under
    * `gap`; the session ends `gap` after its last event.
    */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
      keys: Seq[String]): DataFrame =
    df.groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((keys.map(col) :+ col("session_window.start")
        .as("session_start") :+ col("session_window.end")
        .as("session_end")) :+ col("n_events"): _*)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * escape hatch for per-key state machines the built-in operators
    * can't express. Semantics match [[sessionAgg]] exactly (events of a
    * key merge while gaps stay under `gapSeconds`; the session ends
    * `gapSeconds` after its last event), so the built-in session window
    * is its executable spec AND its oracle; this variant exists to
    * demonstrate/exercise the arbitrary-state API with a bounded state
    * footprint (24 bytes per open key).
    *
    * Two modes:
    *  - streaming (`emitOpen = false`): input must carry a watermark;
    *    sessions closed by a later in-batch event emit immediately, the
    *    open session waits in the state store with an event-time timeout
    *    at `last + gap` and emits when the watermark passes it. A
    *    late-but-in-watermark event that should have merged into an
    *    already-emitted session starts a new one — the documented
    *    tradeoff of eager emission; [[sessionAgg]] is the production
    *    path, this is the custom-state template.
    *  - batch (`emitOpen = true`): timeouts never fire in batch
    *    execution, so the final open session of each key emits with the
    *    group (all data is present — "open" cannot grow further).
    *
    * Scale: one shuffle on the key (groupByKey), state bounded by open
    * keys only (closed sessions leave the store immediately), per-group
    * work is sort + single fold over that GROUP's batch slice.
    */
  def sessionizeWithState(df: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long, emitOpen: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gapMicros = gapSeconds * 1000000L
    // the watermarked event-time column must reach the state operator
    // UNPROJECTED — any derived column drops the watermark metadata and
    // EventTimeTimeout analysis fails; micros conversion happens inside
    val out = df
      .select(col(keyCol).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          def close(s: OpenSession) =
            ClosedSession(key, s.startMicros, s.lastMicros + gapMicros, s.n)
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session can't grow
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            // this group's slice of the batch may arrive unordered
            val ts = rows.map(r => micros(r._2)).toArray
            java.util.Arrays.sort(ts)
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption
            for (t <- ts) {
              open = open match {
                case Some(s) if t - s.lastMicros < gapMicros =>
                  Some(OpenSession(s.startMicros, t, s.n + 1))
                case Some(s) =>
                  closed += close(s)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            if (emitOpen) {
              open.foreach(s => closed += close(s))
              if (state.exists) state.remove()
            } else {
              open.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp((s.lastMicros + gapMicros) / 1000L)
              }
            }
            closed.result().iterator
          }
      }
    out.select(col("key").as(keyCol),
      timestamp_micros(col("startMicros")).as("session_start"),
      timestamp_micros(col("endMicros")).as("session_end"),
      col("n_events"))
  }

  /** Per-key admission quota via `flatMapGroupsWithState`: the first
    * `quota` events of each key (event-time order, id tiebreak) pass
    * with their admission rank; everything after is dropped. The
    * per-key ingestion cap every training pipeline runs at the front
    * door ("at most N documents per crawl host per day"), as a per-key
    * state machine whose entire state is ONE long (the admitted count)
    * — the minimal arbitrary-state template next to
    * [[sessionizeWithState]]'s struct state.
    *
    * Batch mode: each group sees all its rows once, sorted in-group →
    * exactly "first quota by (ts, id)", which is the SQL-expressible
    * oracle (row_number ≤ quota). Streaming: the count persists in the
    * state store across micro-batches, so a key that sent 3 events in
    * batch 1 gets only quota−3 more admitted ever after; admission
    * order across batches is arrival order (a late event that would
    * have ranked earlier is the eager-emission tradeoff, same as
    * sessionizeWithState's documented one). No timeout: quota state is
    * deliberately permanent for the run (8 bytes per key; a production
    * daily cap would reset via an event-time timeout at day rollover).
    *
    * Scale: one shuffle on the key; per-group work is a sort of that
    * group's batch slice; emitted rows ≤ quota per key, ever.
    */
  def rateLimitWithState(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, quota: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df
      .select(col(keyCol).cast("long"), col(tsCol),
        col(idCol).cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val sorted = rows.toArray.sortBy(r => (micros(r._2), r._3))
          var n = state.getOption.getOrElse(0L)
          val admitted = Seq.newBuilder[Admitted]
          for (r <- sorted if n < quota) {
            n += 1
            admitted += Admitted(key, r._3, micros(r._2), n)
          }
          state.update(n)
          admitted.result().iterator
      }
    out.select(col("key").as(keyCol), col("eventId").as(idCol),
      timestamp_micros(col("tsMicros")).as(tsCol),
      col("rank").as("admit_rank"))
  }

  /** True streaming form of the st8 disorder profile: per-key
    * high-water mark carried in the state store (8 bytes/key), each
    * event emitted with its lateness vs the mark at arrival. Arrival
    * order WITHIN a micro-batch is `idCol` ascending (the same
    * convention as st8's batch window: event_id IS the arrival
    * sequence); across micro-batches the state store carries the mark,
    * so a stream fed in id order produces EXACTLY the batch query's
    * per-event late_by values — StreamingSpec asserts that parity.
    * This is the measurement operator that SIZES a watermark on a live
    * stream (max/p99 of late_by over a sliding horizon).
    *
    * Scale: one shuffle on the key; per-group work is a sort of that
    * group's batch slice; state is a single long per key, ever.
    */
  def disorderWithState(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df
      .select(col(keyCol).cast("long"), col(tsCol),
        col(idCol).cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, LateBy](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val sorted = rows.toArray.sortBy(_._3)
          var hwm = state.getOption.getOrElse(Long.MinValue)
          val outRows = Seq.newBuilder[LateBy]
          for (r <- sorted) {
            val us = micros(r._2)
            outRows += LateBy(key, r._3,
              if (hwm > us) hwm - us else 0L)
            if (us > hwm) hwm = us
          }
          state.update(hwm)
          outRows.result().iterator
      }
    out.select(col("key").as(keyCol), col("eventId").as(idCol),
      col("lateByMicros").as("late_by"))
  }

  /** Bounded-horizon dedup, batch form of
    * `dropDuplicatesWithinWatermark`: keep the FIRST event (by
    * `tsCol`, tie-broken by `tieCol`) per dedup key within each
    * tumbling `horizon` window — a duplicate key re-appearing in a
    * later horizon is kept again. That re-admission is the semantic
    * point of watermarked dedup: the streaming form can drop per-key
    * state once the watermark passes the horizon, so state is bounded
    * by the horizon width instead of growing with history (a global
    * dropDuplicates never forgets). Shape: one shuffle on
    * (keys, window) + a window-function rank — the same single-shuffle
    * discipline as the curation gates; at 100 TB the rank state is
    * O(1) per partition stream and only first-seen rows survive.
    * StreamingSpec drives the true streaming operator
    * (`dropDuplicatesWithinWatermark` over a MemoryStream); this form
    * is what the cross-engine oracle can check.
    */
  def dedupWithinHorizon(df: DataFrame, keys: Seq[String], tsCol: String,
      tieCol: String, horizon: String): DataFrame = {
    val withWin = df.withColumn("window_start",
      window(col(tsCol), horizon).getField("start"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((keys.map(col) :+ col("window_start")): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    // the surviving row is kept WHOLE (all input columns plus the
    // appended window_start), matching dropDuplicatesWithinWatermark —
    // a dedup that silently projected payload columns away would
    // surprise any caller reading them off the survivors
    withWin.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Stream-stream interval join: right events within `withinSeconds`
    * AFTER each left event of the same key (the streaming form of the
    * binned range join — e.g. clicks within an hour of an error). Both
    * sides carry watermarks, so Structured Streaming can bound each
    * side's join state buffer by the watermark delay + interval width
    * instead of holding the full history. Timestamp columns must be
    * named differently on the two sides.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      lTs: String, rTs: String, delay: String,
      withinSeconds: Long): DataFrame = {
    val l = left.withWatermark(lTs, delay).alias("l")
    val r = right.withWatermark(rTs, delay).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rTs >= l.$lTs AND " +
        s"r.$rTs <= l.$lTs + interval $withinSeconds seconds"))
      .drop(r(key))
  }

  /** LEFT-OUTER interval join — the null-preserving variant of
    * [[streamIntervalJoin]]: every left row survives, matched or not.
    * In streaming execution this is the semantically distinct case:
    * an unmatched left row can only be EMITTED (with nulls) once the
    * right-side watermark has passed its interval end — before that, a
    * match could still arrive — so the outer result is exactly "state
    * expiry with a verdict". Both sides watermarked + a time-bound
    * condition is precisely the requirement Structured Streaming
    * places on stream-stream outer joins; the batch form here is the
    * oracle-checkable semantics of that query.
    */
  def streamIntervalJoinOuter(left: DataFrame, right: DataFrame,
      key: String, lTs: String, rTs: String, delay: String,
      withinSeconds: Long): DataFrame = {
    // The right key is RENAMED before the join rather than alias-dropped
    // after it: when both sides derive from the same source (a
    // self-join, as in st9's errors-vs-clicks), the pre-join key columns
    // share one expression ID, and the analyzer's self-join
    // de-duplication can re-point `drop(r(key))` at the LEFT-preserved
    // attribute — silently nulling the key on every unmatched row. A
    // distinct name on the right side makes the drop unambiguous under
    // any lineage.
    val rk = s"__r_$key"
    // Guard rails for the rename strategy (ADVICE r10): the unqualified
    // join condition below needs the two timestamp names distinct (the
    // alias-qualified form used to permit lTs == rTs; this one cannot),
    // and the reserved right-key name must not already exist on the
    // left or the equi-condition becomes ambiguous at analysis.
    require(lTs != rTs,
      s"streamIntervalJoinOuter: left and right timestamp columns must " +
        s"have distinct names (both are '$lTs'); rename one side first")
    require(!left.columns.contains(rk),
      s"streamIntervalJoinOuter: left frame already has a column named " +
        s"'$rk', which this join reserves for the renamed right key")
    val l = left.withWatermark(lTs, delay)
    val r = right.withWatermark(rTs, delay).withColumnRenamed(key, rk)
    l.join(r,
      col(key) === col(rk) && col(rTs) >= col(lTs) &&
        col(rTs) <= col(lTs) + expr(s"interval $withinSeconds seconds"),
      "left_outer")
      .drop(rk)
  }

  /** Stream-static enrichment: join a (possibly unbounded) event stream
    * to a bounded dimension frame. The dim side is broadcast — the
    * stream never shuffles for the join, and Structured Streaming
    * re-resolves the static side per micro-batch, so a dim table
    * refreshed in place is picked up without restarting the query.
    * Left join: an event with no dim row survives with nulls (callers
    * coalesce), because dropping events on a dim miss silently skews
    * every downstream aggregate.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      joinExpr: org.apache.spark.sql.Column): DataFrame =
    stream.join(broadcast(dim), joinExpr, "left")

  /** Streaming-safe dedup: the J1 anti-join's streaming equivalent —
    * exactly-once per key within the watermark horizon, with state bounded
    * by `delay` instead of the full table scan the reference re-reads
    * every run (`..._full_load_pipeline.py:160-167`).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Hourly incremental sink: the reference's O1 cadence
    * (`schedule_interval='@hourly'`) as a 1-hour processing-time trigger
    * by default. `forEachBatchSink` gets the deduped micro-batch — e.g.
    * append to a partitioned parquet table. The trigger is injectable so
    * tests (and catch-up backfills) can drive the same writer with
    * `Trigger.AvailableNow()` instead of waiting out the hour.
    */
  def hourlyIncremental(stream: DataFrame, tsCol: String, delay: String,
      keys: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("1 hour"))(
      forEachBatchSink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    dedupWithinWatermark(stream, tsCol, delay, keys)
      .writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        forEachBatchSink(batch, id)
      }
}
