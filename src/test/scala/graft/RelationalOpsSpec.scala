package graft

import org.apache.spark.sql.functions._
import graft.operators.RelationalOps

class RelationalOpsSpec extends SparkTestBase {

  test("asofJoin picks the latest right row at-or-before each left ts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq( // (key, ts, px)
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 10:05:00"), 101.0),
      ("B", ts("2024-01-01 10:02:00"), 200.0)
    ).toDF("sym", "ts", "px")
    val trades = Seq( // (key, ts, qty)
      ("A", ts("2024-01-01 09:59:00"), 1L), // before any quote -> null
      ("A", ts("2024-01-01 10:00:00"), 2L), // exact tie -> 100.0
      ("A", ts("2024-01-01 10:04:59"), 3L), // between -> 100.0
      ("A", ts("2024-01-01 10:30:00"), 4L), // after last -> 101.0
      ("B", ts("2024-01-01 10:03:00"), 5L)  // other key -> 200.0
    ).toDF("sym", "ts", "qty")
    val out = graft.operators.RelationalOps
      .asofJoin(trades, quotes, Seq("sym"), "ts", Seq("px"))
      .select(col("qty"), col("asof_px"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> None, 2L -> Some(100.0), 3L -> Some(100.0),
      4L -> Some(101.0), 5L -> Some(200.0)))
  }

  test("asofJoinForward picks the earliest right row at-or-after") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 10:05:00"), 101.0),
      ("B", ts("2024-01-01 10:02:00"), 200.0)
    ).toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", ts("2024-01-01 09:59:00"), 1L), // before any -> 100.0 (next)
      ("A", ts("2024-01-01 10:00:00"), 2L), // exact tie -> 100.0
      ("A", ts("2024-01-01 10:04:59"), 3L), // between -> 101.0
      ("A", ts("2024-01-01 10:30:00"), 4L), // after last -> null
      ("B", ts("2024-01-01 10:01:00"), 5L)  // other key -> 200.0
    ).toDF("sym", "ts", "qty")
    val out = RelationalOps
      .asofJoinForward(trades, quotes, Seq("sym"), "ts", Seq("px"))
      .select(col("qty"), col("asof_next_px"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> Some(100.0), 2L -> Some(100.0),
      3L -> Some(101.0), 4L -> None, 5L -> Some(200.0)))
  }

  test("rangeJoinPoints matches inclusive bounds across bin boundaries") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      ("u", 1L, ts("2024-01-01 10:00:00")), // == start: in
      ("u", 2L, ts("2024-01-01 11:30:00")), // inside, next hour-bin: in
      ("u", 3L, ts("2024-01-01 12:00:00")), // == end: in
      ("u", 4L, ts("2024-01-01 12:00:01")), // past end: out
      ("v", 5L, ts("2024-01-01 10:30:00"))  // wrong key: out
    ).toDF("k", "pid", "ts")
    val intervals = Seq(
      ("u", 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))
    ).toDF("k", "iid", "start_ts", "end_ts")
    val out = graft.operators.RelationalOps
      .rangeJoinPoints(points, "ts", intervals, "start_ts", "end_ts",
        Seq("k"), binSeconds = 3600L)
      .select("pid").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L))
  }

  test("saltedJoin equals the plain join (inner, left, anti)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"))
      .toDF("k", "lv")
    val right = Seq((1, "X"), (1, "Y"), (2, "Z"), (9, "W"))
      .toDF("k", "rv")
    for (jt <- Seq("inner", "left", "left_anti")) {
      val plain = left.join(right, Seq("k"), jt)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      val salted = graft.operators.RelationalOps
        .saltedJoin(left, right, Seq("k"), saltFactor = 4, joinType = jt)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      assert(salted == plain, s"join type $jt diverged")
    }
    intercept[IllegalArgumentException] {
      graft.operators.RelationalOps.saltedJoin(left, right, Seq("k"), 4,
        joinType = "full_outer")
    }
  }
  test("saltedJoin under a hot key: agrees with plain join at stress size") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one monster key owning ~50% of 400k left rows — the shape where an
    // unsalted shuffle join runs at the speed of the hot reducer
    val n = 400000L
    val left = spark.range(n).select(
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 1000L)
        .as("k"),
      (col("id") % 97).cast("double").as("lv"))
    val right = spark.range(1000).select(col("id").as("k"),
      (col("id") * 3 % 11).cast("double").as("rv"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(col("lv") * col("rv")),
        sum(hash(col("k"), col("lv"), col("rv")).cast("long")))
        .collect()(0).toSeq
    def timed(df: => org.apache.spark.sql.DataFrame): (Seq[Any], Double) = {
      val t0 = System.nanoTime()
      val r = agg(df)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (plain, tPlain) = timed(left.join(right, Seq("k")))
    val (salted, tSalted) = timed(graft.operators.RelationalOps
      .saltedJoin(left, right, Seq("k"), saltFactor = 8))
    assert(salted == plain,
      "salted join diverged from plain join under skew")
    // local[8] timings are informational (the win is reducer balance on a
    // real cluster, not single-JVM wall-clock — here both run ~0.6s; the
    // assertion is the semantics, the info line records the numbers).
    info(f"hot-key 50%% of ${n}: plain $tPlain%.2fs, salted $tSalted%.2fs")
  }

  test("derivedSaltFactor: exact-integer skew ceil, clamped both ends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def factor(rows: Seq[Int], maxSalt: Int = 32): Long =
      graft.operators.RelationalOps
        .derivedSaltFactor(rows.toDF("k"), Seq("k"), maxSalt)
        .collect()(0).getLong(0)
    // uniform: every key once -> skew 1 -> salt 1 (degenerate plain join)
    assert(factor(Seq(1, 2, 3, 4)) == 1L)
    // one key with 6 of 9 rows over 4 keys: ceil(6*4/9) = ceil(2.67) = 3
    assert(factor(Seq(1, 1, 1, 1, 1, 1, 2, 3, 4)) == 3L)
    // pathological single key: skew = k=1 -> mx*1/tot = 1 -> salt 1
    // (one key can't be spread by ANY multiplier without losing rows;
    // the formula correctly refuses to replicate for nothing)
    assert(factor(Seq(7, 7, 7, 7)) == 1L)
    // clamp: 90% hot key over 11 keys, skew ceil(90*11/100)=10, cap 4
    assert(factor(Seq.fill(90)(0) ++ (1 to 10), maxSalt = 4) == 4L)
  }

  test("adaptiveSaltedJoin equals the plain join; uniform data derives 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed fact side: key 1 dominates
    val left = (Seq.fill(20)((1, "h")) ++ Seq((2, "c"), (3, "d")))
      .toDF("k", "lv")
    val right = Seq((1, "X"), (2, "Z"), (9, "W")).toDF("k", "rv")
    for (jt <- Seq("inner", "left", "left_anti")) {
      val plain = left.join(right, Seq("k"), jt)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      val adaptive = graft.operators.RelationalOps
        .adaptiveSaltedJoin(left, right, Seq("k"), joinType = jt)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      assert(adaptive == plain, s"join type $jt diverged")
    }
    // the derived factor actually spread: skew = ceil(20*3/22) = 3
    val sf = graft.operators.RelationalOps
      .derivedSaltFactor(left, Seq("k"), 32).collect()(0).getLong(0)
    assert(sf == 3L)
  }

  import spark.implicits._

  private lazy val sales = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
    ("b", 5L, 5.0), ("b", 6L, 1.0)
  ).toDF("grp", "id", "amount")

  test("topKPerGroup keeps k rows per group with deterministic tiebreak") {
    val out = RelationalOps.topKPerGroup(sales, Seq("grp"),
      Seq(col("amount").desc, col("id").asc), 2)
      .select("grp", "id").as[(String, Long)].collect().toSet
    // amount ties (30.0 at id=2 and id=4) break on the lower id first.
    assert(out == Set(("a", 2L), ("a", 4L), ("b", 5L), ("b", 6L)))
  }

  test("runningAgg accumulates in explicit ROWS-frame order") {
    val out = RelationalOps.runningAgg(sales, Seq("grp"),
      Seq(col("id").asc), sum(col("amount")), "run")
      .filter(col("grp") === "a").orderBy("id")
      .select("run").as[Double].collect().toSeq
    assert(out == Seq(10.0, 40.0, 60.0, 90.0))
  }

  test("slidingAgg averages over the trailing n-row frame") {
    val out = RelationalOps.slidingAgg(sales, Seq("grp"),
      Seq(col("id").asc), avg(col("amount")), 3, "mv")
      .filter(col("grp") === "a").orderBy("id")
      .select("mv").as[Double].collect().toSeq
    assert(out == Seq(10.0, 20.0, 20.0, 80.0 / 3))
  }

  test("topKGlobal plans a bounded take, not a full sort") {
    val out = RelationalOps.topKGlobal(sales,
      Seq(col("amount").desc, col("id").asc), 3)
    assert(out.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L, 4L, 3L))
  }

  test("globalRowNumber/RunningSum/PrefixMin equal the single-sort forms") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 500 rows over a 7-partition range shuffle → many boundary seams
    val df = spark.range(500).select(
      (pmod(col("id") * 37, lit(250))).as("k"), col("id").as("tb"),
      (pmod(col("id") * 13, lit(50))).as("v"))
      .repartition(7)
    val order = Seq(col("k").asc, col("tb").asc)
    val w = Window.orderBy(order: _*)
    val expect = df
      .withColumn("rn_e", row_number().over(w).cast("long"))
      .withColumn("cum_e", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pm_e", min(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
    val got = RelationalOps.globalPrefixMin(
      RelationalOps.globalRunningSum(
        RelationalOps.globalRowNumber(df, order, col("k"), "rn"),
        order, col("k"), col("v"), "cum"),
      order, col("k"), col("v"), "pm")
    val joined = expect.join(got, Seq("k", "tb", "v"))
    assert(joined.count() == 500)
    assert(joined.filter(col("rn_e") =!= col("rn") ||
      col("cum_e") =!= col("cum") ||
      (col("pm_e").isNotNull && col("pm_e") =!= col("pm")) ||
      (col("pm_e").isNull && col("pm").isNotNull)).count() == 0,
      "distributed prefix forms must match the single-sort window")
  }

  test("rangePrefixAggs: N specs in one pass equal the nested single calls") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(300).select(
      (pmod(col("id") * 31, lit(120))).as("k"), col("id").as("tb"),
      (pmod(col("id") * 17, lit(40))).as("v"))
      .repartition(5)
    val order = Seq(col("k").asc, col("tb").asc)
    val w = Window.orderBy(order: _*)
    val expect = df
      .withColumn("rn_e", row_number().over(w).cast("long"))
      .withColumn("cum_e", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pm_e", min(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
    val nullAdd = (l: org.apache.spark.sql.Column,
        o: org.apache.spark.sql.Column) =>
      when(l.isNull, o).when(o.isNull, l).otherwise(l + o)
    val nullMin = (l: org.apache.spark.sql.Column,
        o: org.apache.spark.sql.Column) =>
      when(l.isNull, o).when(o.isNull, l).otherwise(least(l, o))
    // inclusive rank + inclusive running sum + EXCLUSIVE prefix-min,
    // mixed frames in one shared-order pass
    val got = RelationalOps.rangePrefixAggs(df, order, col("k"), Seq(
      RelationalOps.PrefixSpec(lit(1L), sum, nullAdd, "rn",
        inclusive = true),
      RelationalOps.PrefixSpec(col("v"), sum, nullAdd, "cum",
        inclusive = true),
      RelationalOps.PrefixSpec(col("v"), min, nullMin, "pm",
        inclusive = false)))
    val joined = expect.join(got, Seq("k", "tb", "v"))
    assert(joined.count() == 300)
    assert(joined.filter(col("rn_e") =!= col("rn") ||
      col("cum_e") =!= col("cum") ||
      (col("pm_e").isNotNull && col("pm_e") =!= col("pm")) ||
      (col("pm_e").isNull && col("pm").isNotNull)).count() == 0,
      "multi-spec pass must match the single-sort window forms")
  }

  test("rangePrefixAggsBy equals the per-group window form") {
    import org.apache.spark.sql.expressions.Window
    // 3 groups with overlapping AND disjoint key ranges, ties included
    val df = spark.range(600).select(
      (pmod(col("id"), lit(3))).cast("string").as("g"),
      (pmod(col("id") * 41, lit(150)) +
        when(pmod(col("id"), lit(3)) === 2, 1000L).otherwise(0L)).as("k"),
      col("id").as("tb"),
      (pmod(col("id") * 7, lit(25))).as("v"))
      .repartition(6)
    val order = Seq(col("k").asc, col("tb").asc)
    val w = Window.partitionBy("g").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.withColumn("cum_e", sum(col("v")).over(w))
    val nullAdd = (l: org.apache.spark.sql.Column,
        o: org.apache.spark.sql.Column) =>
      when(l.isNull, o).when(o.isNull, l).otherwise(l + o)
    val got = RelationalOps.rangePrefixAggsBy(df, Seq("g"), order,
      col("k"), Seq(RelationalOps.PrefixSpec(col("v"), sum, nullAdd,
        "cum", inclusive = true)))
    val joined = expect.join(got, Seq("g", "k", "tb", "v"))
    assert(joined.count() == 600)
    assert(joined.filter(col("cum_e") =!= col("cum")).count() == 0,
      "grouped distributed prefix must match the per-group window")
  }

  test("explicit-bucket rank equals the sampled-boundary rank") {
    // stor4's fast path: a monotone tie-safe bucket (k >> 3 here)
    // must yield the identical global rank as the sampled default
    val df = spark.range(256).select(
      (pmod(col("id") * 29, lit(64))).as("k"), col("id").as("tb"))
      .repartition(4)
    val order = Seq(col("k").asc, col("tb").asc)
    val a = RelationalOps.globalRowNumber(df, order, col("k"), "rk")
    val b = RelationalOps.globalRowNumber(df, order, col("k"), "rk",
      bucket = Some(shiftright(col("k"), 3)))
    val joined = a.withColumnRenamed("rk", "rk_a")
      .join(b, Seq("k", "tb"))
    assert(joined.count() == 256)
    assert(joined.filter(col("rk_a") =!= col("rk")).count() == 0,
      "explicit monotone buckets must not change the rank")
  }

  test("valueHistogram selections equal sorted-array order statistics") {
    import spark.implicits._
    // deterministic pseudo-random values incl. heavy ties; three
    // groups of different sizes (odd, even, single-row)
    val rows = (1 to 301).map { i =>
      val g = if (i <= 151) "a" else if (i <= 300) "b" else "c"
      (g, (i * 7919 % 23).toLong)
    }
    val df = rows.toDF("g", "v").repartition(5)
    val h = RelationalOps.valueHistogram(df, "g", col("v"))
    val got = h.groupBy("g")
      .agg(RelationalOps.valueAtRank(expr("(total + 1) div 2")).as("v1"),
        RelationalOps.valueAtRank(expr("(total + 2) div 2")).as("v2"),
        RelationalOps.valueAtRank(lit(1L)).as("vmin"),
        RelationalOps.valueAtRank(col("total")).as("vmax"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    for (g <- Seq("a", "b", "c")) {
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      val n = vs.length
      assert(got(g)._2 == vs((n + 1) / 2 - 1), s"$g lower-median")
      assert(got(g)._3 == vs((n + 2) / 2 - 1), s"$g upper-median")
      assert(got(g)._4 == vs.head && got(g)._5 == vs.last,
        s"$g min/max ranks")
    }
  }

  test("ntileFromRank matches Spark's ntile allocation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(3, 5, 23, 100)) { // n<k, n=k, ragged, exact
      val df = spark.range(1, n + 1).select(col("id").as("rk"))
      val w = Window.orderBy("rk")
      val cmp = df
        .withColumn("nt", ntile(5).over(w).cast("long"))
        .withColumn("got", RelationalOps.ntileFromRank(
          col("rk"), lit(n.toLong), 5))
      assert(cmp.filter(col("nt") =!= col("got")).count() == 0,
        s"allocation diverged at n=$n")
    }
  }

  test("empty input yields empty output everywhere") {
    val empty = sales.filter(col("id") < 0)
    assert(RelationalOps.topKPerGroup(empty, Seq("grp"),
      Seq(col("amount").desc), 3).count() == 0)
    assert(RelationalOps.runningAgg(empty, Seq("grp"), Seq(col("id")),
      sum(col("amount")), "run").count() == 0)
  }

  test("scd2Intervals collapses runs and closes intervals at changes") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val hist = Seq( // key, attr, ts, tiebreak
      (1L, "gold",   ts("2024-01-01 00:00:00"), 10L),
      (1L, "gold",   ts("2024-01-02 00:00:00"), 11L), // same run: collapsed
      (1L, "silver", ts("2024-01-03 00:00:00"), 12L), // change
      (1L, "gold",   ts("2024-01-04 00:00:00"), 13L), // back again: NEW run
      (2L, "bronze", ts("2024-01-01 00:00:00"), 20L)
    ).toDF("k", "tier", "ts", "id")
    val out = RelationalOps.scd2Intervals(hist, "k", "tier", "ts", "id")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "gold", ts("2024-01-01 00:00:00"),
        Some(ts("2024-01-03 00:00:00")), 0L),
      (1L, "silver", ts("2024-01-03 00:00:00"),
        Some(ts("2024-01-04 00:00:00")), 0L),
      (1L, "gold", ts("2024-01-04 00:00:00"), None, 1L),
      (2L, "bronze", ts("2024-01-01 00:00:00"), None, 1L)))
    // one exchange: both windows partition on the key
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(RelationalOps.scd2Intervals(hist, "k", "tier", "ts", "id")
        .queryExecution.executedPlan.toString).size
    assert(exchanges == 1, "scd2 must reuse one shuffle for both windows")
  }

  test("latestWinsMerge classifies keys and picks the max-(ts,id) row") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cut = "2024-01-10 00:00:00"
    val ev = Seq( // key1, key2, ts, id, value
      (1L, "a", ts("2024-01-01 00:00:00"), 1L, 10.0), // base only
      (1L, "a", ts("2024-01-02 00:00:00"), 2L, 11.0), //   -> unchanged, 11.0
      (2L, "a", ts("2024-01-05 00:00:00"), 3L, 20.0), // base + delta
      (2L, "a", ts("2024-01-12 00:00:00"), 4L, 21.0), //   -> updated, 21.0
      (3L, "b", ts("2024-01-15 00:00:00"), 5L, 30.0), // delta only
      (3L, "b", ts("2024-01-15 00:00:00"), 6L, 31.0)  //   tie ts -> id 6 wins
    ).toDF("u", "t", "ts", "id", "v")
    val out = RelationalOps
      .latestWinsMerge(ev, Seq("u", "t"), "ts", "id", "v", cut)
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getString(2), r.getDouble(3)))).toMap
    assert(out == Map(
      (1L, "a") -> ("unchanged", 11.0),
      (2L, "a") -> ("updated", 21.0),
      (3L, "b") -> ("inserted", 31.0)))
    // single-aggregate shape: exactly one shuffle, no join, no window
    val plan = RelationalOps
      .latestWinsMerge(ev, Seq("u", "t"), "ts", "id", "v", cut)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1)
    assert(!plan.contains("Join") && !plan.contains("Window"))
  }

  test("overlapJoinBinned: end-exclusive semantics, deduped across bins") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      // spans three hour bins and crosses midnight
      (2L, ts("2024-01-01 23:30:00"), ts("2024-01-02 01:30:00")),
      (3L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00"))
    ).toDF("lid", "ls", "le")
    val right = Seq(
      // touches 1's END and 3's START exactly: end-exclusive -> neither
      (10L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")),
      (20L, ts("2024-01-02 00:00:00"), ts("2024-01-02 02:00:00")),
      (30L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:45:00"))
    ).toDF("rid", "rs", "re")
    val out = RelationalOps.overlapJoinBinned(left, "ls", "le",
      right, "rs", "re", 3600L)
    assert(out.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((1L, 30L), (2L, 20L)))
    // (2, 20) shares TWO hour bins but must surface exactly once
    assert(out.count() == 2)
  }

  test("cdc4 tombstones: delete wins only when LATEST; resurrection") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: update then delete  -> deleted
    // user 2: updates only        -> live, latest value
    // user 3: delete then update  -> RESURRECTED (live) — order, not
    //                                presence, of the tombstone decides
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 5.0, "click"),
      (1L, ts("2024-01-01 11:00:00"), 2L, 0.0, "error"),
      (2L, ts("2024-01-01 10:00:00"), 3L, 7.0, "click"),
      (2L, ts("2024-01-01 12:00:00"), 4L, 9.0, "view"),
      (3L, ts("2024-01-01 10:00:00"), 5L, 0.0, "error"),
      (3L, ts("2024-01-01 11:00:00"), 6L, 4.0, "click")
    ).toDF("user_id", "ts", "event_id", "value", "event_type")
    withTempDir("graft_cdc4") { dir =>
      ev.write.mode("overwrite")
        .parquet(new java.io.File(dir, "events.parquet").toString)
      val out = SparkEntry.queries("cdc4_tombstones")(
        spark, dir.toString).collect()
        .map(r => r.getLong(0) -> (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3), r.getLong(4))).toMap
      assert(out(1L) == (("deleted", None, 2L, 1L)))
      assert(out(2L) == (("live", Some(9.0), 2L, 0L)))
      assert(out(3L) == (("live", Some(4.0), 2L, 1L)))
    }
  }

  test("zValue2 interleaves bits exactly; z-sort bounds BOTH dims") {
    import spark.implicits._
    // bit-parity against a reference interleave on hand values + edges
    def zRef(a: Long, b: Long): Long = (0 until 16).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.sum
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (43690L, 21845L), (12345L, 54321L))
    val got = cases.toDF("a", "b")
      .select(RelationalOps.zValue2(col("a"), col("b"), 16))
      .as[Long].collect()
    assert(got.toSeq == cases.map { case (a, b) => zRef(a, b) },
      "Spark interleave must match the reference bit formula")
    // layout claim: chunking a z-SORTED table into contiguous runs
    // bounds the per-run spread of EACH dimension far better than a
    // sort on the OTHER single key does — that spread IS the file-level
    // min/max range multi-column pruning depends on
    val rows = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_partkey", "l_suppkey")
      .as[(Long, Long)].collect().toSeq
    // 256 runs ≈ 8 fixed top z-bits — enough granularity that BOTH
    // dims' interleaved bits pin down (the dims' ranges are asymmetric:
    // partkey ~11 bits vs suppkey ~7, so coarse runs fix mostly
    // partkey bits and the suppkey bound only emerges as runs shrink —
    // exactly the file-size/pruning trade a z-order writer tunes)
    def meanSpread(sorted: Seq[(Long, Long)]): (Double, Double) = {
      val gs = sorted.grouped(math.max(1, sorted.length / 256)).toSeq
      (gs.map(g => (g.map(_._1).max - g.map(_._1).min).toDouble).sum
         / gs.size,
       gs.map(g => (g.map(_._2).max - g.map(_._2).min).toDouble).sum
         / gs.size)
    }
    val (zp, zs) = meanSpread(rows.sortBy(t => zRef(t._1, t._2)))
    val (_, ps) = meanSpread(rows.sortBy(_._1)) // partkey-sorted
    val (sp, _) = meanSpread(rows.sortBy(_._2)) // suppkey-sorted
    assert(zp < sp / 2,
      s"z-sort must bound partkey better than a suppkey sort ($zp vs $sp)")
    assert(zs < ps / 2,
      s"z-sort must bound suppkey better than a partkey sort ($zs vs $ps)")
  }

  test("mv3's delta-join split exercises every decomposition term") {
    // the algebra J = A0⋈B0 ∪ ΔA⋈B0 ∪ A0⋈ΔB ∪ ΔA⋈ΔB is verified by
    // the oracle (full recompute); this pins the FIXTURE — each term
    // must be nonempty, otherwise the query silently degenerates into
    // a plain join and stops testing incremental maintenance at all
    // (a same-date cut on both tables zeroes ΔA⋈B0: nothing ships
    // before it is ordered — hence the staggered MvLiCut)
    import org.apache.spark.sql.functions.col
    val ord = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate"))
    val ordCut = lit(java.sql.Timestamp
      .valueOf(QueriesRelational.CdcCutOld))
    val liCut = lit(java.sql.Timestamp
      .valueOf(QueriesRelational.MvLiCut))
    def n(aOld: Boolean, bOld: Boolean): Long = {
      val a = ord.filter(if (aOld) col("o_orderdate") < ordCut
        else col("o_orderdate") >= ordCut)
      val b = li.filter(if (bOld) col("l_shipdate") < liCut
        else col("l_shipdate") >= liCut)
      a.join(b, col("o_orderkey") === col("l_orderkey")).count()
    }
    val counts = Map("A0.B0" -> n(true, true), "dA.B0" -> n(false, true),
      "A0.dB" -> n(true, false), "dA.dB" -> n(false, false))
    counts.foreach { case (term, c) =>
      assert(c > 0, s"delta-join term $term is empty: $counts")
    }
  }
  test("chooseJoinStrategy: the pure policy and strategy-invariant results") {
    import graft.operators.RelationalOps._
    import spark.implicits._
    // the policy, exhaustively at its boundaries
    assert(chooseJoinStrategy(1000000L, 99L) == "broadcast") // at budget
    assert(chooseJoinStrategy(1000001L, 3L) == "shuffle")    // under skew
    assert(chooseJoinStrategy(1000001L, 4L) == "salted")     // at threshold
    assert(chooseJoinStrategy(0L, 100L) == "broadcast")
    // all three arms return the identical join result (the invariance
    // the j18 oracle relies on): run the same keyed join through each
    // forced arm and compare multisets
    val left = ((1 to 50).map(_ => 1L) ++ (2L to 11L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val right = (1L to 11L).map(k => (k, s"r$k")).toDF("k", "tag")
    def rows(r: (String, org.apache.spark.sql.DataFrame)) =
      r._2.as[(Long, Long, String)].collect().toSeq.sorted
    val b = costGuardedJoin(left, right, Seq("k"))                // broadcast
    val sh = costGuardedJoin(left, right, Seq("k"),
      broadcastMaxRows = 0L, skewThreshold = 100L)                // shuffle
    val sa = costGuardedJoin(left, right, Seq("k"),
      broadcastMaxRows = 0L, skewThreshold = 2L)                  // salted
    assert(b._1 == "broadcast" && sh._1 == "shuffle" && sa._1 == "salted")
    assert(rows(b) == rows(sh) && rows(sh) == rows(sa))
    assert(rows(b).nonEmpty)
  }
}
