package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeseriesOps

class TimeseriesOpsSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("gapFillHourly completes the spine with n=0 rows per group") {
    import spark.implicits._
    val df = Seq(
      ("a", ts("2024-01-01 10:15:00"), 2.0),
      ("a", ts("2024-01-01 10:45:00"), 4.0),
      // hour 11 missing for a
      ("a", ts("2024-01-01 12:05:00"), 6.0),
      // b observed only at 11: spine still spans 10..12 (global bounds)
      ("b", ts("2024-01-01 11:30:00"), 10.0)
    ).toDF("g", "t", "v")
    val out = TimeseriesOps.gapFillHourly(df, "g", "t", "v")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(2))).toSet
    assert(out == Set(
      ("a", "2024-01-01 10:00:00.0", 2L),
      ("a", "2024-01-01 11:00:00.0", 0L),
      ("a", "2024-01-01 12:00:00.0", 1L),
      ("b", "2024-01-01 10:00:00.0", 0L),
      ("b", "2024-01-01 11:00:00.0", 1L),
      ("b", "2024-01-01 12:00:00.0", 0L)))
  }

  test("interpolateLinear blends gaps and carries edges") {
    import spark.implicits._
    val df = Seq(
      ("a", ts("2024-01-01 10:30:00"), 2.0),
      ("a", ts("2024-01-01 10:40:00"), 4.0), // hour 10 mean = 3.0
      // hours 11,12 missing
      ("a", ts("2024-01-01 13:10:00"), 9.0), // hour 13 mean = 9.0
      ("b", ts("2024-01-01 12:00:00"), 5.0)  // b observed only at 12
    ).toDF("g", "t", "v")
    val out = TimeseriesOps.interpolateLinear(
        TimeseriesOps.gapFillHourly(df, "g", "t", "v"), "g")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString)
        -> r.getDouble(2)).toMap
    // a: 3.0 at h10, 9.0 at h13 -> 5.0 at h11, 7.0 at h12
    assert(out(("a", "2024-01-01 10:00:00.0")) == 3.0)
    assert(out(("a", "2024-01-01 11:00:00.0")) == 5.0)
    assert(out(("a", "2024-01-01 12:00:00.0")) == 7.0)
    assert(out(("a", "2024-01-01 13:00:00.0")) == 9.0)
    // b: single observation carried to both edges
    assert(out(("b", "2024-01-01 10:00:00.0")) == 5.0)
    assert(out(("b", "2024-01-01 11:00:00.0")) == 5.0)
    assert(out(("b", "2024-01-01 12:00:00.0")) == 5.0)
    assert(out(("b", "2024-01-01 13:00:00.0")) == 5.0)
  }

  test("madAnomalies flags a planted spike with exact integer math") {
    import spark.implicits._
    // 9 quiet hours of n=2 and one spike of n=50: median 2 (med2=4),
    // devs are 0 except the spike's 96 -> MAD 0 (mad4=0), so exactly
    // the spike satisfies 2*dev2 > 3*mad4... and a constant series
    // (all dev 0) must flag NOTHING (0 > 0 is false) — the degenerate
    // case float detectors get wrong with epsilon thresholds.
    val rows = (0 until 10).map { i =>
      ("a", ts(f"2024-01-01 ${10 + i}%02d:30:00"), 1.0)
    }
    val df = (rows ++ rows.init // double every hour but keep one spike source
      ).toDF("g", "t", "v")
    // build n=2 for hours 10..18, n=1 for hour 19; then plant the spike
    val spiked = df.union(Seq.fill(49)(("a", ts("2024-01-01 19:30:00"), 1.0))
      .toDF("g", "t", "v"))
    val out = TimeseriesOps.madAnomalies(
        TimeseriesOps.gapFillHourly(spiked, "g", "t", "v"), "g")
      .collect().map(r => r.getTimestamp(1).toString ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(out("2024-01-01 19:00:00.0") == (50L, 1L), "spike flagged")
    assert(out.count(_._2._2 == 1L) == 1, "only the spike is anomalous")

    val flat = TimeseriesOps.madAnomalies(
        TimeseriesOps.gapFillHourly(
          rows.toDF("g", "t", "v"), "g", "t", "v"), "g")
      .agg(sum(col("is_anomaly"))).as[Long].head()
    assert(flat == 0L, "constant series flags nothing")
  }

  test("ewmaDyadic: exact dyadic weights, head renormalization") {
    import spark.implicits._
    val g = Seq( // pre-gap-filled frame: (group, hour, n)
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("a", ts("2024-01-01 11:00:00"), 2L),
      ("a", ts("2024-01-01 12:00:00"), 3L),
      ("a", ts("2024-01-01 13:00:00"), 4L)
    ).toDF("g", "hour", "n")
    val out = TimeseriesOps.ewmaDyadic(g, "g")
      .orderBy("hour")
      .collect().map(r => (r.getLong(4), r.getLong(3), r.getDouble(5)))
    // weights 128,64,32,16,... for lags 0,1,2,3...; heads renormalize
    // over the weights actually present (den < 255), never average in
    // phantom zeros.
    assert(out.toSeq == Seq(
      (128L, 1L * 128, 1.0),
      (192L, 2L * 128 + 1 * 64, 1.666667),
      (224L, 3L * 128 + 2 * 64 + 1 * 32, 2.428571),
      (240L, 4L * 128 + 3 * 64 + 2 * 32 + 1 * 16, 3.266667)))
  }

  test("ts1/ts2 run on sf0.001 with the full scale-independent spine") {
    val g = SparkEntry.queries("ts1_gapfill")(spark, sf0001)
    val n = g.count()
    // 5 event types x full-month hour spine; and real gaps exist at
    // this density for the interpolator to fill
    assert(n > 3000 && n % 5 == 0, s"spine rows: $n")
    assert(g.filter(col("n") === 0).count() > 0, "expected gaps at sf0.001")
    val i = SparkEntry.queries("ts2_interpolate")(spark, sf0001)
    assert(i.count() == n)
    assert(i.filter(col("val").isNull).count() == 0)
  }

  test("ts6 autocorrelation is a valid Pearson r over the full spine") {
    val rows = SparkEntry.queries("ts6_autocorr")(spark, sf0001)
      .collect()
    // 5 types x 3 lags, every r a genuine correlation
    assert(rows.length == 15, s"expected 15 (type, lag) rows")
    assert(rows.forall(r => math.abs(r.getDouble(4)) <= 1.0),
      "Pearson r must lie in [-1, 1]")
    // n_pairs decreases by exactly one per extra lag (complete spine:
    // a lag-k series over n days has n-k pairs)
    val byType = rows.groupBy(_.getString(0))
    byType.values.foreach { rs =>
      val np = rs.sortBy(_.getInt(1)).map(_.getLong(2))
      assert(np(0) == np(1) + 1 && np(1) == np(2) + 1,
        s"pair counts must step down by 1 per lag: ${np.toSeq}")
    }
  }

  test("ts7 seasonal indices: 7 dows per type, day-weighted mean = 1") {
    val rows = SparkEntry.queries("ts7_seasonality")(spark, sf001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      assert(rs.map(_._2).toSet == (1L to 7L).toSet,
        s"$tpe must cover all 7 days-of-week")
      // identity: the n_days-weighted mean index is exactly 1 — the
      // per-dow means recombine to the overall mean by construction
      val gDays = rs.map(_._3).sum
      val wMean = rs.map(r => r._5 * r._3).sum / gDays
      assert(math.abs(wMean - 1.0) < 1e-4,
        s"$tpe: weighted mean index $wMean drifted from 1")
      rs.foreach(r => assert(r._5 > 0.0, s"$tpe dow ${r._2} index <= 0"))
    }
  }
}
