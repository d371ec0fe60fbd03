package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TimeseriesOps
import graft.sources.Tables

/** Time-series regularization queries over `events` (north-star
  * extension): hourly gap-filled counts and linearly-interpolated
  * hourly means per event type. The events span a fixed 30-day window
  * at every SF (~720 hours × 5 types = 3600 spine rows), so the spine
  * is scale-INDEPENDENT while the aggregated input grows with SF —
  * gaps exist at sf0.001/0.01 and close at sf0.1, which is exactly the
  * behavior a resampler must keep correct at every density.
  */
object QueriesTimeseries {

  lazy val registry: Seq[Query] = Seq(
    // Hourly event counts per type with a COMPLETE hour spine: absent
    // hours present with n = 0 (the downstream-correctness property —
    // a model fed "no row" instead of "zero" silently skews).
    Query("ts1_gapfill", (s, d) => {
      TimeseriesOps.gapFillHourly(
          Tables.events(s, d), "event_type", "ts", "value")
        .select(col("event_type"), col("hour"), col("n"))
    },
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |        date_trunc('hour', max(ts)) AS h1 FROM events),
         |spine AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT DISTINCT event_type FROM events), b)
         |SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
         |FROM spine s LEFT JOIN hourly h
         |  ON s.event_type = h.event_type AND s.hour = h.hour""".stripMargin),

    // Hourly mean value per type, gaps linearly interpolated between
    // the nearest observed hours (edges carry the nearest value) — all
    // in integer micro-units until one rounded output division.
    Query("ts2_interpolate", (s, d) => {
      TimeseriesOps.interpolateLinear(
        TimeseriesOps.gapFillHourly(
          Tables.events(s, d), "event_type", "ts", "value"),
        "event_type")
    },
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*) AS n,
         |    CAST(sum(CAST(floor(value * ${TimeseriesOps.Fx}) AS BIGINT))
         |      AS BIGINT) AS v_fx
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |        date_trunc('hour', max(ts)) AS h1 FROM events),
         |spine AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT DISTINCT event_type FROM events), b),
         |g AS (SELECT s.event_type, s.hour,
         |        coalesce(h.n, 0) AS n, h.v_fx
         |      FROM spine s LEFT JOIN hourly h
         |        ON s.event_type = h.event_type AND s.hour = h.hour),
         |a AS (SELECT event_type, hour,
         |        date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', hour)
         |          AS he,
         |        CASE WHEN n > 0 THEN v_fx // n END AS avg_fx
         |      FROM g),
         |w AS (SELECT event_type, hour, he, avg_fx,
         |        last_value(CASE WHEN avg_fx IS NOT NULL THEN he END
         |          IGNORE NULLS) OVER pw AS ph,
         |        last_value(CASE WHEN avg_fx IS NOT NULL THEN avg_fx END
         |          IGNORE NULLS) OVER pw AS pv,
         |        first_value(CASE WHEN avg_fx IS NOT NULL THEN he END
         |          IGNORE NULLS) OVER nw AS nh,
         |        first_value(CASE WHEN avg_fx IS NOT NULL THEN avg_fx END
         |          IGNORE NULLS) OVER nw AS nv
         |      FROM a
         |      WINDOW pw AS (PARTITION BY event_type ORDER BY hour
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        nw AS (PARTITION BY event_type ORDER BY hour
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, hour,
         |  round(CAST(CASE WHEN avg_fx IS NOT NULL THEN avg_fx
         |      WHEN ph IS NULL THEN nv
         |      WHEN nh IS NULL THEN pv
         |      ELSE (pv * (nh - he) + nv * (he - ph)) // (nh - ph)
         |    END AS DOUBLE) / ${TimeseriesOps.Fx}.0, 6) AS val
         |FROM w""".stripMargin),

    // MAD anomaly flags over the hourly counts — the robust |x−med| >
    // 3·MAD outlier rule with every denominator cleared, so the whole
    // detector is integer-exact (see TimeseriesOps.madAnomalies).
    Query("ts3_anomalies", (s, d) => {
      TimeseriesOps.madAnomalies(
        TimeseriesOps.gapFillHourly(
          Tables.events(s, d), "event_type", "ts", "value"),
        "event_type")
    },
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |        date_trunc('hour', max(ts)) AS h1 FROM events),
         |spine AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT DISTINCT event_type FROM events), b),
         |g AS (SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
         |      FROM spine s LEFT JOIN hourly h
         |        ON s.event_type = h.event_type AND s.hour = h.hour),
         |r AS (SELECT event_type, hour, n,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY n, hour) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS cnt FROM g),
         |m AS (SELECT event_type, hour, n, cnt,
         |    sum(CASE WHEN rn = (cnt + 1) // 2 THEN n END)
         |      OVER (PARTITION BY event_type)
         |    + sum(CASE WHEN rn = (cnt + 2) // 2 THEN n END)
         |      OVER (PARTITION BY event_type) AS med2 FROM r),
         |d AS (SELECT event_type, hour, n, cnt,
         |        abs(2 * n - med2) AS dev2 FROM m),
         |r2 AS (SELECT event_type, hour, n, cnt, dev2,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY dev2, hour) AS rn2 FROM d),
         |m2 AS (SELECT event_type, hour, n, dev2,
         |    sum(CASE WHEN rn2 = (cnt + 1) // 2 THEN dev2 END)
         |      OVER (PARTITION BY event_type)
         |    + sum(CASE WHEN rn2 = (cnt + 2) // 2 THEN dev2 END)
         |      OVER (PARTITION BY event_type) AS mad4 FROM r2)
         |SELECT event_type, hour, n, CAST(dev2 AS BIGINT) AS dev2,
         |  CAST(mad4 AS BIGINT) AS mad4,
         |  CAST(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0
         |    END AS BIGINT) AS is_anomaly
         |FROM m2""".stripMargin),

    // Dyadic-weight EWMA over the hourly counts: alpha = 1/2 truncated
    // at 8 lags, so every weight is a power of two and num/den are
    // exact Longs — the integer-exact EWMA (a float EWMA's running
    // product can never hash-match across engines). One window pass.
    Query("ts4_ewma", (s, d) => {
      TimeseriesOps.ewmaDyadic(
        TimeseriesOps.gapFillHourly(
          Tables.events(s, d), "event_type", "ts", "value"),
        "event_type")
    },
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |        date_trunc('hour', max(ts)) AS h1 FROM events),
         |spine AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT DISTINCT event_type FROM events), b),
         |g AS (SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
         |      FROM spine s LEFT JOIN hourly h
         |        ON s.event_type = h.event_type AND s.hour = h.hour),
         |e AS (SELECT event_type, hour, n,
         |        ${ewmaTerms._1} AS num,
         |        ${ewmaTerms._2} AS den
         |      FROM g
         |      WINDOW w AS (PARTITION BY event_type ORDER BY hour))
         |SELECT event_type, hour, n, CAST(num AS BIGINT) AS num,
         |  CAST(den AS BIGINT) AS den,
         |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
         |FROM e""".stripMargin),

    // EXACT 7-day rolling distinct users per day (the "WAU by day"
    // metric). Sliding-window COUNT DISTINCT cannot ride a window
    // frame (distinct state isn't mergeable across frame slides), so
    // the scalable exact form is contribution expansion: each distinct
    // (user, active-day) row fans out to the ≤7 window-end days it
    // contributes to, then one distinct-count per day. Input to the
    // fan-out is the DISTINCT (user, day) set — O(users × active
    // days), already tiny vs the raw stream — never the events
    // themselves; phantom windows past the data's edge are clipped by
    // a broadcast 1-row max-day probe.
    Query("ts5_rolling_distinct", (s, d) => {
      val ev = Tables.events(s, d)
      val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val bounds = ev.agg(to_date(max(col("ts"))).as("d1"))
      ud.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("k"))
        .select(col("user_id"),
          date_add(col("day"), col("k")).as("wday"))
        .crossJoin(broadcast(bounds))
        .filter(col("wday") <= col("d1"))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("user_id")).as("users_7d"))
    },
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |            FROM events),
        |b AS (SELECT CAST(max(ts) AS DATE) AS d1 FROM events),
        |e AS (SELECT user_id, day + CAST(k AS INTEGER) AS wday
        |      FROM ud, (SELECT unnest(generate_series(0, 6)) AS k))
        |SELECT wday AS day, count(DISTINCT user_id) AS users_7d
        |FROM e, b WHERE wday <= d1 GROUP BY 1""".stripMargin),

    // Lagged autocorrelation (lags 1–3) of the per-type DAILY count
    // series — the seasonality probe a forecasting pipeline runs before
    // choosing model features. Pearson r over (c_t, c_{t+k}) pairs with
    // every moment sum (Σx, Σy, Σxy, Σx², Σy²) an exact Long over a
    // complete day spine (absent days count 0 — computing lags over
    // present-days-only silently shifts the series), so both engines
    // reach ONE identical float division + sqrt at output. Shape: the
    // series is days×types (≈150 rows at every SF) after one hash-agg
    // of the events — the windows and unpivot run on the tiny series,
    // never the raw stream.
    Query("ts6_autocorr", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val daily = ev.groupBy(col("event_type"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val bounds = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val g = spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val p = g.select(col("event_type"), col("n"),
          lead("n", 1).over(w).as("l1"),
          lead("n", 2).over(w).as("l2"),
          lead("n", 3).over(w).as("l3"))
        .select(col("event_type"), col("n").as("x"),
          explode(map(lit(1), col("l1"), lit(2), col("l2"),
            lit(3), col("l3"))).as(Seq("lag", "y")))
        .filter(col("y").isNotNull)
      p.groupBy("event_type", "lag").agg(
          count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("lag"), col("n_pairs"),
          col("sxy"),
          round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            sqrt(((col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
              (col("n_pairs") * col("syy") - col("sy") * col("sy")))
              .cast("double")), 6).as("r"))
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |b AS (SELECT CAST(min(ts) AS DATE) AS d0,
        |        CAST(max(ts) AS DATE) AS d1 FROM events),
        |spine AS (SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM events), b),
        |g AS (SELECT s.event_type, s.day, coalesce(dl.cnt, 0) AS n
        |      FROM spine s LEFT JOIN daily dl
        |        ON s.event_type = dl.event_type AND s.day = dl.day),
        |l AS (SELECT event_type, n,
        |        lead(n, 1) OVER w AS l1, lead(n, 2) OVER w AS l2,
        |        lead(n, 3) OVER w AS l3
        |      FROM g WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |p AS (SELECT event_type, 1 AS lag, n AS x, l1 AS y FROM l
        |        WHERE l1 IS NOT NULL
        |      UNION ALL SELECT event_type, 2, n, l2 FROM l
        |        WHERE l2 IS NOT NULL
        |      UNION ALL SELECT event_type, 3, n, l3 FROM l
        |        WHERE l3 IS NOT NULL),
        |a AS (SELECT event_type, lag, count(*) AS n_pairs,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x*y) AS BIGINT) AS sxy,
        |        CAST(sum(x*x) AS BIGINT) AS sxx,
        |        CAST(sum(y*y) AS BIGINT) AS syy
        |      FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs, sxy,
        |  round(CAST(n_pairs*sxy - sx*sy AS DOUBLE) /
        |    sqrt(CAST((n_pairs*sxx - sx*sx) * (n_pairs*syy - sy*sy)
        |      AS DOUBLE)), 6) AS r
        |FROM a""".stripMargin),

    // Day-of-week seasonal index — the decomposition step ts6's
    // autocorrelation PROBE motivates: per (event_type, dow), the
    // mean daily count relative to the type's overall mean
    // (index > 1 = the day runs hot). All moments are exact integer
    // counts; the only float math is the final nested division, the
    // same expression shape on both engines. At 100 TB this is two
    // hash-aggs over an already-tiny daily frame — the heavy input
    // reduction (events → daily counts) happens once, partial-
    // aggregated map-side.
    Query("ts7_seasonality", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val byDow = daily.groupBy(col("event_type"),
          dayofweek(col("day")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
      val overall = daily.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("g_total"), count(lit(1)).as("g_days"))
      byDow.join(overall, Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n_days"),
          col("total"),
          round((col("total").cast("double") /
              col("n_days").cast("double")) /
            (col("g_total").cast("double") /
              col("g_days").cast("double")), 6).as("seasonal_index"))
    },
      // Mirrors ts6 exactly: same day spine, same Long moment sums, the
      // single cast-to-double at the very end.
      // DuckDB dayofweek is 0-based Sunday-start vs Spark's 1-based —
      // the +1 maps explicitly (the f2 convention)
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |bd AS (SELECT event_type,
        |    CAST(dayofweek(day) AS BIGINT) + 1 AS dow,
        |    count(*) AS n_days, sum(cnt) AS total
        |  FROM daily GROUP BY 1, 2),
        |ov AS (SELECT event_type, sum(cnt) AS g_total,
        |    count(*) AS g_days FROM daily GROUP BY 1)
        |SELECT bd.event_type, dow, n_days,
        |  CAST(total AS BIGINT) AS total,
        |  round((CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |    (CAST(g_total AS DOUBLE) / CAST(g_days AS DOUBLE)), 6)
        |    AS seasonal_index
        |FROM bd JOIN ov ON bd.event_type = ov.event_type""".stripMargin),

    // Holt double-exponential smoothing (level + trend, α=0.5 β=0.3)
    // with a 3-step forecast — the trend-aware step up from ts4's
    // flat EWMA. The recursion is inherently sequential per series, so
    // the scale-honest shape is: gap-fill (ts1's spine), collect each
    // series' ordered cells into ONE row (series state must fit a row
    // — the standard constraint of per-series smoothing; series count
    // ×, not row count), and run the recursion as a strict left fold
    // over a struct {level, trend} accumulator. Both engines execute
    // the identical fold on identically-sorted doubles → bit-equal
    // states before the 6dp rounding; sorting is by the unique hour,
    // so collect_list's nondeterministic order is irrelevant (the
    // centroidMeans discipline).
    Query("ts8_holt", (s, d) => {
      val g = TimeseriesOps.gapFillHourly(
        Tables.events(s, d), "event_type", "ts", "value")
      val serie = g.groupBy("event_type")
        .agg(transform(
          array_sort(collect_list(struct(col("hour"), col("n")))),
          x => x.getField("n").cast("double")).as("ys"))
      def lNext(acc: Column, x: Column): Column =
        lit(0.5) * x + lit(0.5) *
          (acc.getField("l") + acc.getField("b"))
      val zero = struct(element_at(col("ys"), 1).as("l"),
        lit(0.0).as("b"))
      val st = aggregate(
        slice(col("ys"), lit(2), size(col("ys")) - 1), zero,
        (acc, x) => struct(lNext(acc, x).as("l"),
          (lit(0.3) * (lNext(acc, x) - acc.getField("l")) +
            lit(0.7) * acc.getField("b")).as("b")))
      serie.select(col("event_type"),
        size(col("ys")).cast("long").as("n_cells"),
        round(st.getField("l"), 6).as("level"),
        round(st.getField("b"), 6).as("trend"),
        round(st.getField("l") + st.getField("b"), 6).as("f1"),
        round(st.getField("l") + lit(2.0) * st.getField("b"), 6)
          .as("f2"),
        round(st.getField("l") + lit(3.0) * st.getField("b"), 6)
          .as("f3"))
    },
      // ts8: ts4's exact gap-fill CTEs, then the identical left fold
      // with the (level, trend) state packed as a 2-element LIST —
      // elements wrapped [x, 0] because DuckDB's list_reduce requires
      // accumulator and element types to match (the prepended seed IS
      // the accumulator). NOT a struct state: DuckDB 1.0's list_reduce
      // mis-evaluates multi-field STRUCT accumulators from the second
      // step on (second field drifts; reproduced standalone), while the
      // list encoding folds correctly — verified element-by-element
      // against an independent Python trace of the recursion.
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
        |        date_trunc('hour', max(ts)) AS h1 FROM events),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM events), b),
        |g AS (SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
        |      FROM spine s LEFT JOIN hourly h
        |        ON s.event_type = h.event_type AND s.hour = h.hour),
        |s2 AS (SELECT event_type,
        |    list(CAST(n AS DOUBLE) ORDER BY hour) AS ys
        |  FROM g GROUP BY 1),
        |f AS (SELECT event_type, ys,
        |    list_reduce(
        |      list_prepend([ys[1], CAST(0.0 AS DOUBLE)],
        |        list_transform(ys[2:],
        |          x -> [x, CAST(0.0 AS DOUBLE)])),
        |      (acc, e) -> [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
        |        0.3 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2]) - acc[1])
        |          + 0.7 * acc[2]]) AS st
        |  FROM s2)
        |SELECT event_type, CAST(len(ys) AS BIGINT) AS n_cells,
        |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[1] + st[2], 6) AS f1,
        |  round(st[1] + 2.0 * st[2], 6) AS f2,
        |  round(st[1] + 3.0 * st[2], 6) AS f3
        |FROM f""".stripMargin),

    // CUSUM changepoint detection over the daily count series per
    // event type: cumulative sum of deviations from the series mean,
    // peaking at the most likely level-shift point (Page's classic
    // offline CUSUM statistic). Everything is INTEGER-exact — the
    // mean is never materialized as a double; the statistic is scaled
    // by n_days (cusum_sc = n·P_t − t·S, i.e. n·Σ_{i≤t}(x_i − S/n)),
    // so both engines compare bit-identical BIGINTs and the argmax
    // flag cannot flip on FP noise. Shape: the event scan collapses to
    // an O(types×days) spine-sized frame FIRST (one hash agg), then
    // two window passes partitioned by the series key and a broadcast
    // of the 5-row per-series totals — at 100 TB the windows never see
    // event-sized data and every series smooths independently.
    Query("ts9_cusum", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("cnt")).as("s_total"), count(lit(1)).as("n_days"))
      val wc = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = daily
        .withColumn("p", sum(col("cnt")).over(wc))
        .withColumn("t",
          row_number().over(Window.partitionBy("event_type").orderBy("day"))
            .cast("long"))
        .join(broadcast(tot), Seq("event_type"))
        .withColumn("cusum_sc",
          col("n_days") * col("p") - col("t") * col("s_total"))
      val wp = Window.partitionBy("event_type")
      cs.withColumn("peak", max(abs(col("cusum_sc"))).over(wp))
        .withColumn("peak_day",
          min(when(abs(col("cusum_sc")) === col("peak"), col("day")))
            .over(wp))
        .select(col("event_type"), col("day"), col("cnt"), col("cusum_sc"),
          (col("day") === col("peak_day")).as("is_changepoint"))
    },
      // ts9: identical integer-scaled CUSUM; every windowed sum is CAST
      // back to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT).
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS s_total,
        |    count(*) AS n_days FROM daily GROUP BY 1),
        |cu AS (SELECT d.event_type, d.day, d.cnt,
        |    CAST(sum(d.cnt) OVER (PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p,
        |    CAST(row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS BIGINT) AS t,
        |    t0.s_total, t0.n_days
        |  FROM daily d JOIN tot t0 USING (event_type)),
        |cs AS (SELECT event_type, day, cnt,
        |    n_days * p - t * s_total AS cusum_sc FROM cu),
        |p1 AS (SELECT *, CAST(max(abs(cusum_sc))
        |    OVER (PARTITION BY event_type) AS BIGINT) AS peak FROM cs),
        |p2 AS (SELECT *, min(CASE WHEN abs(cusum_sc) = peak THEN day END)
        |    OVER (PARTITION BY event_type) AS peak_day FROM p1)
        |SELECT event_type, day, cnt, cusum_sc,
        |  day = peak_day AS is_changepoint
        |FROM p2""".stripMargin),

    // Additive seasonal decomposition (STL-lite): daily series split
    // into trend (centered 7-observation moving average), day-of-week
    // seasonal (mean detrended value per dow) and remainder — the
    // decomposition behind "is this spike seasonal or real". FP
    // discipline: the detrended value is kept SCALED BY 7
    // (detr7 = 7·cnt − Σ₇cnt — exact BIGINT), so the per-dow seasonal
    // mean sums exact integers (never a groupBy over doubles, whose
    // partial-sum order is nondeterministic) and every double derives
    // from exact ints through identical operand order. Edge rows
    // without a full 7-observation window are excluded by the same
    // window-count predicate on both engines. Spine-sized after one
    // hash agg.
    // Single changepoint detection (binary segmentation, first split):
    // for each series, the day boundary that maximizes the
    // between-segment sum of squares — score(k) = (S_k·n − S·k)² /
    // (k·(n−k)) over the day-indexed prefix sums, the exact
    // first-iteration objective of binary segmentation / CUSUM's
    // offline twin (ts9 is the online form). Prefix sums are exact
    // integers off a per-series day frame (~30 rows — the windows
    // never see events); the score is ONE double division in
    // identical operand order, so the argmax (score desc, k asc) is
    // deterministic on both engines. Long bound: |S_k·n − S·k| ≤ S·n
    // ≈ 2e8 at sf1 → squares ≈ 4e16, inside Int64 with ~200×
    // headroom.
    Query("ts14_changepoint", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val wAll = Window.partitionBy("event_type")
      val pre = daily
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("sk", sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("stot", sum(col("cnt")).over(wAll))
        .filter(col("k") < col("n")) // split AFTER day k needs a right side
        .withColumn("a", col("sk") * col("n") - col("stot") * col("k"))
        .withColumn("score", (col("a") * col("a")).cast("double") /
          (col("k") * (col("n") - col("k"))).cast("double"))
      val wBest = Window.partitionBy("event_type")
        .orderBy(col("score").desc, col("k").asc)
      pre.withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_after"),
          col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
          round(col("sk").cast("double") / col("k").cast("double"), 6)
            .as("mean_left"),
          round((col("stot") - col("sk")).cast("double") /
            (col("n") - col("k")).cast("double"), 6).as("mean_right"),
          round(col("score"), 6).as("score"))
    },
      // ts12: same integer-scaled decomposition; DuckDB dayofweek is
      // 0-based (ts7's +1 convention), the ROWS window is the identical
      // ts14: identical integer prefix sums and the same one-division
      // score; day rank needs no tiebreak (day is unique per series).
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, day, cnt,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS k,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS stot
        |  FROM daily),
        |sc AS (SELECT *,
        |    CAST((sk * n - stot * k) * (sk * n - stot * k) AS DOUBLE)
        |      / CAST(k * (n - k) AS DOUBLE) AS score
        |  FROM p WHERE k < n),
        |b AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score DESC, k) AS rk FROM sc)
        |SELECT event_type, day AS split_after, k AS n_left,
        |  n - k AS n_right,
        |  round(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE), 6)
        |    AS mean_left,
        |  round(CAST(stot - sk AS DOUBLE) / CAST(n - k AS DOUBLE), 6)
        |    AS mean_right,
        |  round(score, 6) AS score
        |FROM b WHERE rk = 1""".stripMargin),

    // Forecast backtest (MASE) — the quality gate a forecasting
    // pipeline runs before trusting a model: the weekly seasonal-naive
    // forecast (value 7 days ago) scored against the walk-forward
    // naive baseline (value 1 day ago) per series. MASE < 1 means the
    // seasonal forecast beats the naive one. Absolute errors
    // accumulate as exact integer counts; the scaled ratio is computed
    // from INTEGER cross-products (s7·n1 / n7·s1 — one double
    // division at the end, no mean-of-means rounding drift), with a
    // constant-series zero guard emitting NULL identically on both
    // engines. One lag window per series + one hash agg.
    Query("ts13_mase_backtest", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("l1", lag(col("cnt"), 1).over(w))
        .withColumn("l7", lag(col("cnt"), 7).over(w))
        .groupBy("event_type")
        .agg(sum(when(col("l7").isNotNull, 1L).otherwise(0L)).as("n7"),
          sum(when(col("l7").isNotNull, abs(col("cnt") - col("l7")))
            .otherwise(0L)).as("s7"),
          sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum(when(col("l1").isNotNull, abs(col("cnt") - col("l1")))
            .otherwise(0L)).as("s1"))
        .select(col("event_type"), col("n7").as("n_eval"),
          round(col("s7").cast("double") / col("n7").cast("double"), 6)
            .as("mae_snaive"),
          round(col("s1").cast("double") / col("n1").cast("double"), 6)
            .as("mae_naive"),
          when(col("s1") > 0, round(
            (col("s7") * col("n1")).cast("double") /
              (col("n7") * col("s1")).cast("double"), 6))
            .as("mase"))
    },
      // ts13: identical lag windows over the observed-day series and the
      // same integer cross-product ratio with the zero guard.
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, cnt,
        |    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day)
        |      AS l1,
        |    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day)
        |      AS l7
        |  FROM daily),
        |a AS (SELECT event_type,
        |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n7,
        |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN abs(cnt - l7)
        |      ELSE 0 END) AS BIGINT) AS s7,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(cnt - l1)
        |      ELSE 0 END) AS BIGINT) AS s1
        |  FROM l GROUP BY 1)
        |SELECT event_type, n7 AS n_eval,
        |  round(CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE), 6)
        |    AS mae_snaive,
        |  round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
        |    AS mae_naive,
        |  CASE WHEN s1 > 0 THEN round(CAST(s7 * n1 AS DOUBLE)
        |    / CAST(n7 * s1 AS DOUBLE), 6) END AS mase
        |FROM a""".stripMargin),

    Query("ts12_seasonal_decompose", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val t = daily
        .withColumn("sum7", sum(col("cnt")).over(w7))
        .withColumn("n7", count(lit(1)).over(w7))
        .filter(col("n7") === 7)
        .withColumn("detr7", lit(7) * col("cnt") - col("sum7"))
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val seas = t.groupBy("event_type", "dow")
        .agg(sum(col("detr7")).as("sd7"), count(lit(1)).as("nd"))
      t.join(seas, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("cnt"),
          round(col("sum7").cast("double") / 7.0, 6).as("trend"),
          round(col("sd7").cast("double") / col("nd").cast("double")
            / 7.0, 6).as("seasonal"),
          round((col("detr7").cast("double") -
            col("sd7").cast("double") / col("nd").cast("double"))
            / 7.0, 6).as("remainder"))
    },
      // 7-observation frame, and every double comes from the same exact
      // BIGINTs.
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, day, cnt,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS sum7,
        |    count(*) OVER w AS n7,
        |    CAST(dayofweek(day) AS BIGINT) + 1 AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT event_type, day, cnt, sum7, dow,
        |    7 * cnt - sum7 AS detr7
        |  FROM t WHERE n7 = 7),
        |s AS (SELECT event_type, dow,
        |    CAST(sum(detr7) AS BIGINT) AS sd7, count(*) AS nd
        |  FROM f GROUP BY 1, 2)
        |SELECT f.event_type, f.day, f.cnt,
        |  round(CAST(f.sum7 AS DOUBLE) / 7.0, 6) AS trend,
        |  round(CAST(s.sd7 AS DOUBLE) / CAST(s.nd AS DOUBLE) / 7.0, 6)
        |    AS seasonal,
        |  round((CAST(f.detr7 AS DOUBLE)
        |    - CAST(s.sd7 AS DOUBLE) / CAST(s.nd AS DOUBLE)) / 7.0, 6)
        |    AS remainder
        |FROM f JOIN s ON f.event_type = s.event_type
        |  AND f.dow = s.dow""".stripMargin),

    // Time-weighted average (TWAP / sensor-mean): the irregular-
    // sampling mean that counting rows gets WRONG — each observation
    // holds until the next one (LOCF), so its weight is its holding
    // interval, not 1. Per user: Σ valueᵢ·(tᵢ₊₁ − tᵢ) / (t_last −
    // t_first), all in exact integer cents×seconds (one lead window,
    // map-side integer products, ONE rounded division at output);
    // single-observation users have no holding interval and are
    // excluded by the span > 0 gate on both engines.
    Query("ts11_twa", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("event_id").asc)
      val obs = Tables.events(s, d).select(col("user_id"),
        col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("sec"),
        floor(col("value") * 100).cast("long").as("cents"))
      obs
        .withColumn("next_s", lead(col("sec"), 1).over(w))
        .withColumn("contrib", when(col("next_s").isNotNull,
          col("cents") * (col("next_s") - col("sec"))).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_obs"),
          (max(col("sec")) - min(col("sec"))).as("span_s"),
          sum(col("contrib")).as("area"))
        .filter(col("span_s") > 0)
        .select(col("user_id"), col("n_obs"), col("span_s"),
          round(col("area").cast("double") /
            col("span_s").cast("double") / 100.0, 6).as("twa"))
    },
      // ts11: same integer cents×seconds areas; epoch seconds via
      // epoch_us // 1000000 (micros floor to match unix_timestamp).
      """WITH obs AS (SELECT user_id, event_id,
        |    epoch_us(ts) // 1000000 AS sec,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |l AS (SELECT user_id, sec, cents,
        |    lead(sec) OVER (PARTITION BY user_id
        |      ORDER BY sec, event_id) AS next_s
        |  FROM obs),
        |g AS (SELECT user_id, count(*) AS n_obs,
        |    CAST(max(sec) - min(sec) AS BIGINT) AS span_s,
        |    CAST(sum(CASE WHEN next_s IS NOT NULL
        |      THEN cents * (next_s - sec) ELSE 0 END) AS BIGINT)
        |      AS area
        |  FROM l GROUP BY 1)
        |SELECT user_id, n_obs, span_s,
        |  round(CAST(area AS DOUBLE) / CAST(span_s AS DOUBLE)
        |    / 100.0, 6) AS twa
        |FROM g WHERE span_s > 0""".stripMargin),

    // LTTB downsampling (largest-triangle-three-buckets, the standard
    // visual decimation for dashboards) per event-type daily series:
    // first and last points always survive; each middle bucket of 5
    // keeps the point spanning the LARGEST triangle against its
    // neighbor buckets' centroids (the centroid-anchored LTTB variant
    // — anchoring on centroids instead of the previously-selected
    // point removes the sequential dependency, so every bucket selects
    // independently and the operator parallelizes per bucket). The
    // triangle area comparison is INTEGER-exact: the rational centroid
    // denominators are cleared by scaling the doubled area by n₁²·n₃
    // (A = |(Sx₁n₃−Sx₃n₁)(y₂n₁−Sy₁) − (Sx₁−x₂n₁)(Syₙ n₁−Sy₁n₃)|), so
    // the argmax cannot flip on FP noise on either engine. Shape: one
    // event-sized hash agg down to the day spine, then windows and
    // equi-joins over O(types·days) rows only.
    Query("ts10_lttb", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val wr = Window.partitionBy("event_type").orderBy("day")
      val idx = daily.withColumn("x",
        (row_number().over(wr) - 1).cast("long"))
      val mx = idx.groupBy("event_type").agg(max(col("x")).as("x_max"))
      val b = idx.join(broadcast(mx), Seq("event_type"))
        .withColumn("bucket", (col("x") / lit(5)).cast("long"))
        .withColumn("last_bucket", (col("x_max") / lit(5)).cast("long"))
      val cent = b.groupBy("event_type", "bucket")
        .agg(sum(col("x")).as("sx"), sum(col("cnt")).as("sy"),
          count(lit(1)).as("nb"))
      val mid = b.filter(col("bucket") > 0 &&
          col("bucket") < col("last_bucket"))
        .join(cent.select(col("event_type"),
          (col("bucket") + 1).as("bucket"), col("sx").as("sx1"),
          col("sy").as("sy1"), col("nb").as("n1")),
          Seq("event_type", "bucket"))
        .join(cent.select(col("event_type"),
          (col("bucket") - 1).as("bucket"), col("sx").as("sx3"),
          col("sy").as("sy3"), col("nb").as("n3")),
          Seq("event_type", "bucket"))
        .withColumn("area2",
          abs((col("sx1") * col("n3") - col("sx3") * col("n1")) *
            (col("cnt") * col("n1") - col("sy1")) -
            (col("sx1") - col("x") * col("n1")) *
            (col("sy3") * col("n1") - col("sy1") * col("n3"))))
      val wa = Window.partitionBy("event_type", "bucket")
        .orderBy(col("area2").desc, col("x").asc)
      val winners = mid.withColumn("rn", row_number().over(wa))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("bucket"), col("x"), col("day"),
          col("cnt"))
      val endpoints = b.filter(col("x") === 0 || col("x") === col("x_max"))
        .select(col("event_type"), col("bucket"), col("x"), col("day"),
          col("cnt"))
      winners.union(endpoints)
    },
      // ts10: identical integer-scaled area argmax; c1 = previous-bucket
      // centroid, c3 = next-bucket centroid.
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, cnt,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) - 1 AS BIGINT) AS x FROM daily),
        |mx AS (SELECT event_type, max(x) AS x_max FROM idx GROUP BY 1),
        |b AS (SELECT i.*, m.x_max,
        |    CAST(floor(i.x / 5.0) AS BIGINT) AS bucket,
        |    CAST(floor(m.x_max / 5.0) AS BIGINT) AS last_bucket
        |  FROM idx i JOIN mx m USING (event_type)),
        |cent AS (SELECT event_type, bucket,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(cnt) AS BIGINT) AS sy,
        |    count(*) AS nb
        |  FROM b GROUP BY 1, 2),
        |mid AS (SELECT b.event_type, b.bucket, b.x, b.day, b.cnt,
        |    abs((c1.sx * c3.nb - c3.sx * c1.nb)
        |        * (b.cnt * c1.nb - c1.sy)
        |      - (c1.sx - b.x * c1.nb)
        |        * (c3.sy * c1.nb - c1.sy * c3.nb)) AS area2
        |  FROM b JOIN cent c1 ON b.event_type = c1.event_type
        |      AND c1.bucket = b.bucket - 1
        |    JOIN cent c3 ON b.event_type = c3.event_type
        |      AND c3.bucket = b.bucket + 1
        |  WHERE b.bucket > 0 AND b.bucket < b.last_bucket),
        |w AS (SELECT event_type, bucket, x, day, cnt,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY area2 DESC, x) AS rn FROM mid)
        |SELECT event_type, bucket, x, day, cnt FROM w WHERE rn = 1
        |UNION ALL
        |SELECT event_type, bucket, x, day, cnt FROM b
        |WHERE x = 0 OR x = x_max""".stripMargin
  ))

  /** The ts4 oracle's lag terms, generated so SQL and Spark stay in
    * sync on the weight schedule (depth 8, weight of lag k = 2^(7-k)). */
  private def ewmaTerms: (String, String) = {
    val num = (0 until 8).map(k =>
      s"coalesce(lag(n, $k) OVER w * ${1L << (7 - k)}, 0)").mkString(" + ")
    val den = (0 until 8).map(k =>
      s"CASE WHEN lag(n, $k) OVER w IS NOT NULL THEN ${1L << (7 - k)} " +
        "ELSE 0 END").mkString(" + ")
    (num, den)
  }

}
