package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.RelationalOps
import graft.sources.Tables

/** Window / top-k / set-op / multi-join / grouping queries — the SURVEY.md
  * §2.7 categories absent from the reference, filled with oracle-checkable
  * forms over the driver test tables.
  *
  * Determinism rules (driver hash-compares value multisets):
  *  - every ranking has a unique tiebreak column;
  *  - running/sliding frames are explicit ROWS frames (RANGE is ambiguous
  *    under ties and buffers peer groups);
  *  - double aggregates are rounded on BOTH sides so float summation-order
  *    differences between engines can't flip a digit.
  */
object QueriesRelational {

  private val cutTs = "2024-01-15 00:00:00"
  private val q3Date = "1998-01-01 00:00:00"

  /** cdc1 snapshot cutoffs — both mid-range of the 1995–2001 ship
    * dates, so both snapshots are non-trivial at every SF. */
  private[graft] val CdcCutOld = "1998-06-30 00:00:00"
  private val CdcCutNew = "1999-06-30 00:00:00"

  /** mv3's lineitem-side delta cut — ~3 months AFTER CdcCutOld so ship
    * lag populates every term of the delta-join decomposition (a
    * same-date cut leaves ΔA⋈B0 structurally empty: nothing ships
    * before it is ordered). Package-visible for the spec's
    * term-nonemptiness check.
    */
  private[graft] val MvLiCut = "1998-09-30 00:00:00"

  lazy val registry: Seq[Query] = Seq(
    // Window/ranking: top-3 orders per priority class.
    Query("w1_topk_per_group", (s, d) => {
      RelationalOps.topKPerGroup(
        Tables.orders(s, d).select("o_orderpriority", "o_orderkey",
          "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .withColumn("rn", col("rn").cast("long"))
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    // Running total per customer (explicit ROWS frame).
    Query("w2_running_total", (s, d) => {
      RelationalOps.runningAgg(
        Tables.orders(s, d),
        Seq("o_custkey"),
        Seq(col("o_orderdate").asc, col("o_orderkey").asc),
        sum(col("o_totalprice")), "running_spend")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("running_spend"), 2).as("running_spend"))
    },
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_spend
        |FROM orders""".stripMargin),

    // The remaining ranking/navigation window family in one query:
    // lag/lead navigation, ntile quartiles, dense_rank + percent_rank
    // under ties (date-only ordering). One shuffle on the partition key.
    Query("w5_window_variants", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority").orderBy(col("o_orderdate").asc)
      Tables.orders(s, d).select(
        col("o_orderpriority"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        dense_rank().over(wd).cast("long").as("date_rank"),
        round(percent_rank().over(wd), 6).as("date_pct"))
    },
      """SELECT o_orderpriority, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  ntile(4) OVER w AS quartile,
        |  dense_rank() OVER wd AS date_rank,
        |  round(percent_rank() OVER wd, 6) AS date_pct
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate, o_orderkey),
        |  wd AS (PARTITION BY o_orderpriority ORDER BY o_orderdate)"""
        .stripMargin),

    // Interpolated percentiles (PERCENTILE_CONT semantics) — w9/g5
    // give exact order statistics at data points; this completes the
    // percentile surface with the BETWEEN-points case: pos = (n−1)·p,
    // value = v_lo + (pos − lo)·(v_hi − v_lo), computed explicitly in
    // identical operand order on BOTH engines (never each engine's own
    // quantile_cont, whose interpolation conventions differ). The
    // bracketing values at 0-indexed ranks lo/hi are read off the
    // value histogram (RelationalOps.valueHistogram — value at
    // 0-indexed rank r is the v with cum_before <= r < cum): one
    // skew-free hash agg over the fact, then a 3-probe explode over
    // the O(|domain|) histogram — no fact rank window, no positional
    // joins.
    // Exact median over a genuinely UNBOUNDED continuous domain — the
    // third selection regime valueHistogram's doc promises (bounded
    // domain → tiny histogram [g5]; near-unique bounded domain →
    // distributed histogram [w9]; unbounded continuous → COARSEN then
    // RESCAN, built here): pass 0 computes min/max (one cheap agg);
    // pass 1 bins values into 4096 fixed-width buckets and finds the
    // ≤2 buckets holding the median ranks off the ≤4096-row bin
    // histogram; pass 2 re-scans ONLY those buckets (the
    // partition-pruning shape — at 100 TB the second scan touches
    // ~n/4096 rows) and reads the exact values at the target ranks
    // via an in-bucket value histogram offset by the bins before it.
    // The bin assignment never needs cross-engine parity: the oracle
    // checks the RESULT (the rank-selected values), which is
    // algorithm-independent; clamping the max value into the last bin
    // and using one identical bin expression in both passes keeps the
    // two Spark passes consistent with each other.
    Query("w12_unbounded_median", (s, d) => {
      val ev = Tables.events(s, d).select(col("value").as("x"))
      val mm = ev.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n"))
      val B = 4096
      def binOf(x: Column): Column = when(col("hi") === col("lo"),
        lit(0L)).otherwise(least(lit(B - 1L),
        floor((x - col("lo")) / ((col("hi") - col("lo")) / B))
          .cast("long")))
      val binned = ev.crossJoin(broadcast(mm))
        .select(col("x"), binOf(col("x")).as("b"), col("n"))
      // bin histogram: ≤4096 rows, one ordered pass
      val wb = org.apache.spark.sql.expressions.Window.orderBy("b")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1) // ≤4096-row frame
      val bh = binned.groupBy("b", "n").agg(count(lit(1)).as("cnt"))
        .withColumn("before", coalesce(sum(col("cnt")).over(wb), lit(0L)))
        .withColumn("k1", expr("(n + 1) div 2"))
        .withColumn("k2", expr("(n + 2) div 2"))
        .filter((col("before") < col("k1") &&
            col("k1") <= col("before") + col("cnt")) ||
          (col("before") < col("k2") &&
            col("k2") <= col("before") + col("cnt")))
        .select(col("b"), col("before"), col("k1"), col("k2"))
      // rescan only the ≤2 target bins; exact in-bin selection via a
      // value histogram (its window sees ~n/4096 rescanned rows)
      // offset by the rows in all earlier bins
      val sub = binned.join(broadcast(bh.select("b")), Seq("b"))
        .select(col("b"), col("x"))
      RelationalOps.valueHistogram(sub, "b", col("x"))
        .join(broadcast(bh), Seq("b"))
        .agg(
          max(when(col("before") + col("cum_before") < col("k1") &&
            col("k1") <= col("before") + col("cum"), col("v"))).as("v1"),
          max(when(col("before") + col("cum_before") < col("k2") &&
            col("k2") <= col("before") + col("cum"), col("v"))).as("v2"))
        .select(col("v1"), col("v2"),
          ((col("v1") + col("v2")) / 2).as("median"))
    },
      // w12: the RESULT (values at the median ranks) is
      // algorithm-independent — the oracle rank-selects directly; the
      // bin+rescan is Spark-side execution strategy only.
      """WITH r AS (SELECT value AS x,
        |    row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM events)
        |SELECT
        |  max(CASE WHEN rn = (n + 1) // 2 THEN x END) AS v1,
        |  max(CASE WHEN rn = (n + 2) // 2 THEN x END) AS v2,
        |  (max(CASE WHEN rn = (n + 1) // 2 THEN x END)
        |   + max(CASE WHEN rn = (n + 2) // 2 THEN x END)) / 2
        |    AS median
        |FROM r""".stripMargin),

    Query("w11_percentile_cont", (s, d) => {
      val h = RelationalOps.valueHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity")),
        "l_returnflag", col("l_quantity"))
      val probed = h
        .withColumn("p", explode(array(lit(0.25), lit(0.5), lit(0.75))))
        .withColumn("pos", (col("total") - 1).cast("double") * col("p"))
        .withColumn("lo", floor(col("pos")).cast("long"))
        .withColumn("hi", ceil(col("pos")).cast("long"))
      probed.groupBy("l_returnflag", "p", "pos")
        .agg(max(when(col("cum_before") <= col("lo") &&
            col("lo") < col("cum"), col("v"))).as("v_lo"),
          max(when(col("cum_before") <= col("hi") &&
            col("hi") < col("cum"), col("v"))).as("v_hi"))
        .select(col("l_returnflag"), col("p"),
          round(col("v_lo") + (col("pos") - floor(col("pos"))) *
            (col("v_hi") - col("v_lo")), 6).as("pct_cont"))
    },
      // w11: same explicit interpolation from ranked rows; the probe
      // list CASTs to DOUBLE (a bare decimal literal list would
      // DECIMAL-quantize pos).
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) - 1
        |      AS BIGINT) AS rn
        |  FROM lineitem),
        |nn AS (SELECT l_returnflag, count(*) AS n FROM r GROUP BY 1),
        |pr AS (SELECT l_returnflag, n, p,
        |    CAST(n - 1 AS DOUBLE) * p AS pos,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS lo,
        |    CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS hi
        |  FROM nn, (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE)
        |    AS p) ps)
        |SELECT pr.l_returnflag, pr.p,
        |  round(vlo.l_quantity + (pr.pos - CAST(pr.lo AS DOUBLE))
        |    * (vhi.l_quantity - vlo.l_quantity), 6) AS pct_cont
        |FROM pr
        |JOIN r vlo ON pr.l_returnflag = vlo.l_returnflag
        |  AND vlo.rn = pr.lo
        |JOIN r vhi ON pr.l_returnflag = vhi.l_returnflag
        |  AND vhi.rn = pr.hi""".stripMargin),

    // Frame-navigation battery completing the window surface next to
    // w5's rank family: cume_dist, and first/last/nth value over the
    // FULL-partition frame (the explicit UNBOUNDED FOLLOWING frame is
    // the part people get wrong — last_value over the default frame is
    // just the current row). Values pass through unrounded: they are
    // raw column doubles, identical bytes on both engines.
    Query("w10_frame_navigation", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wf = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, d).select(
        col("o_orderpriority"), col("o_orderkey"),
        round(cume_dist().over(w), 6).as("cdist"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        last(col("o_totalprice")).over(wf).as("last_price"),
        nth_value(col("o_totalprice"), 3).over(wf).as("third_price"))
    },
      """SELECT o_orderpriority, o_orderkey,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  nth_value(o_totalprice, 3) OVER wf AS third_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin),

    // Ordered-analytic aggregates (max_by / min_by ↔ arg_max /
    // arg_min): "the order that had the highest price" without a
    // rank-window round trip — one hash aggregate with map-side
    // partials. Both engines pick an ARBITRARY row among ties, so the
    // ordering keys are made collision-free by packing exact cents
    // with the unique key into one long (cents·10⁸ + key, exact in
    // int64 range) — determinism by construction, not by engine
    // agreement.
    Query("g12_argmax_agg", (s, d) => {
      val priceKey = floor(col("l_extendedprice") * 100).cast("long") *
        100000000L + col("l_orderkey")
      val shipKey = unix_timestamp(col("l_shipdate").cast("timestamp"))
        .cast("long") * 10000000L + col("l_orderkey")
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        max_by(col("l_orderkey"), priceKey).as("top_price_order"),
        min_by(col("l_orderkey"), shipKey).as("earliest_ship_order"),
        max(floor(col("l_extendedprice") * 100).cast("long"))
          .as("max_price_cents"),
        min(col("l_shipdate").cast("date")).as("min_shipdate"))
    },
      // g12: arg_max/arg_min on the identical collision-free long keys.
      """SELECT l_returnflag,
        |  arg_max(l_orderkey, CAST(floor(l_extendedprice * 100)
        |    AS BIGINT) * 100000000 + l_orderkey) AS top_price_order,
        |  arg_min(l_orderkey, (epoch_us(l_shipdate) // 1000000)
        |    * 10000000 + l_orderkey) AS earliest_ship_order,
        |  CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS max_price_cents,
        |  min(l_shipdate::DATE) AS min_shipdate
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Skyline / Pareto frontier (non-dominated set) — the multi-
    // criteria "best tradeoffs" operator SQL has no keyword for:
    // orders minimizing price while maximizing recency; an order
    // survives iff nothing is both cheaper-or-equal AND
    // newer-or-equal (strict somewhere). Classic sort-scan shape:
    // collapse to the per-price best (min negated day — anything
    // worse at the same price is dominated), then one ordered pass
    // Ordered LISTAGG / string_agg (closing the g-family numbering at
    // g10): per order-status, the top spenders' keys concatenated in a
    // DETERMINISTIC order — aggregate-concat is the classic
    // order-sensitive trap (engines disagree on unordered string_agg),
    // so the row set is bounded first (top-5 per group by cents desc,
    // key asc — WindowGroupLimit-eligible) and the concat reads an
    // array_sort'ed struct list, the ts8 fold discipline applied to
    // strings. O(groups · 5) rows into the agg; nothing unbounded is
    // ever concatenated.
    Query("g10_listagg", (s, d) => {
      val cents = Tables.orders(s, d).select(col("o_orderstatus"),
        col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val top = RelationalOps.topKPerGroup(cents, Seq("o_orderstatus"),
        Seq(col("cents").desc, col("o_custkey").asc), 5)
      top.groupBy("o_orderstatus")
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct((-col("cents")).as("nc"),
            col("o_custkey").as("k")))),
          x => x.getField("k").cast("string"))).as("top_custkeys"),
          sum(col("cents")).as("top5_cents"))
    },
      // g11: same collapse + ordered strict-improvement scan.
      // g10: same bounded top-5 + an ORDER BY'd string_agg matching the
      // Spark side's sorted-struct fold (cents desc via negation, key
      // asc).
      """WITH c AS (SELECT o_orderstatus, o_custkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cents DESC, o_custkey) AS rn FROM c)
        |SELECT o_orderstatus,
        |  string_agg(CAST(o_custkey AS VARCHAR), ','
        |    ORDER BY -cents, o_custkey) AS top_custkeys,
        |  CAST(sum(cents) AS BIGINT) AS top5_cents
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin),

    // keeps rows strictly better than every preceding (cheaper) row's
    // best. All integer (cents, day offsets) — no FP tie ambiguity.
    // The prefix-min scan is DISTRIBUTED (the r11 demand, now built):
    // RelationalOps.globalPrefixMin range-partitions by price, takes
    // per-partition prefix-mins, and lifts them global with the O(P)
    // per-partition-min offsets — per-range skylines + a frontier
    // merge off a cluster-sized summary, never a single-partition
    // ordered window over O(distinct prices).
    Query("g11_pareto", (s, d) => {
      val pts = Tables.orders(s, d).select(
        floor(col("o_totalprice") * 100).cast("long").as("price_c"),
        (-datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date"))).cast("long").as("negday"))
      val perX = pts.groupBy("price_c")
        .agg(min(col("negday")).as("negday"))
      RelationalOps.globalPrefixMin(perX, Seq(col("price_c").asc),
          col("price_c"), col("negday"), "m")
        .filter(col("m").isNull || col("negday") < col("m"))
        .select(col("price_c"), (-col("negday")).as("day_off"))
    },
      """WITH pts AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
        |    AS price_c,
        |    -CAST(date_diff('day', DATE '1992-01-01',
        |      o_orderdate::DATE) AS BIGINT) AS negday
        |  FROM orders),
        |px AS (SELECT price_c, min(negday) AS negday FROM pts
        |  GROUP BY 1),
        |sc AS (SELECT price_c, negday,
        |    min(negday) OVER (ORDER BY price_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        |  FROM px)
        |SELECT price_c, -negday AS day_off FROM sc
        |WHERE m IS NULL OR negday < m""".stripMargin),

    // lag(): per-user delta between consecutive event values.
    Query("w3_lag_delta", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          round(col("value") - lag(col("value"), 1).over(w), 6)
            .as("value_delta"))
    },
      """SELECT user_id, event_id,
        |  round(value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), 6) AS value_delta
        |FROM events""".stripMargin),

    // Sliding 3-row moving average per user.
    Query("w4_moving_avg", (s, d) => {
      RelationalOps.slidingAgg(
        Tables.events(s, d),
        Seq("user_id"),
        Seq(col("ts").asc, col("event_id").asc),
        avg(col("value")), 3, "moving_avg")
        .select(col("user_id"), col("event_id"),
          round(col("moving_avg"), 6).as("moving_avg"))
    },
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
        |FROM events""".stripMargin),

    // Global top-100 — TakeOrderedAndProject, no full sort at scale.
    Query("t1_topk_global", (s, d) => {
      RelationalOps.topKGlobal(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 100)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // INTERSECT: users active in both halves of the month.
    Query("s3_intersect_users", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit(cutTs).cast("timestamp")
      ev.filter(col("ts") < cut).select("user_id")
        .intersect(ev.filter(col("ts") >= cut).select("user_id"))
    },
      s"""SELECT user_id FROM events WHERE ts < TIMESTAMP '$cutTs'
         |INTERSECT
         |SELECT user_id FROM events WHERE ts >= TIMESTAMP '$cutTs'"""
        .stripMargin),

    // EXCEPT: (user, event_type) combos with a high-value event only in the
    // first half of the month.
    Query("s4_except_users", (s, d) => {
      val ev = Tables.events(s, d).filter(col("value") > 300)
      val cut = lit(cutTs).cast("timestamp")
      ev.filter(col("ts") < cut).select("user_id", "event_type")
        .except(ev.filter(col("ts") >= cut).select("user_id", "event_type"))
    },
      s"""SELECT user_id, event_type FROM events
         |WHERE ts < TIMESTAMP '$cutTs' AND value > 300
         |EXCEPT
         |SELECT user_id, event_type FROM events
         |WHERE ts >= TIMESTAMP '$cutTs' AND value > 300""".stripMargin),

    // TPC-H Q3-shaped 3-way join + agg + top-10. customer is broadcast-able;
    // orders⋈lineitem shuffles on the order key (AQE handles skew).
    Query("j2_revenue_topn", (s, d) => {
      val cut = lit(q3Date).cast("timestamp")
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '$q3Date'
         |  AND l_shipdate > TIMESTAMP '$q3Date'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // LEFT OUTER join keeping customers with zero orders.
    Query("j3_left_join_count", (s, d) => {
      Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    // LEFT SEMI join: parts with at least one heavy lineitem.
    Query("j4_semi_join", (s, d) => {
      Tables.part(s, d).select("p_partkey", "p_name")
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45)
          .select("l_partkey"),
          col("p_partkey") === col("l_partkey"), "left_semi")
    },
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity > 45)""".stripMargin),

    // ROLLUP over (returnflag, linestatus): subtotal + grand-total rows.
    Query("g1_rollup", (s, d) => {
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // DISTINCT aggregates per return flag.
    Query("g2_distinct_agg", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          round(sum_distinct(col("l_quantity")), 2).as("sum_dist_qty"))
    },
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  round(sum(DISTINCT l_quantity), 2) AS sum_dist_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // CUBE: all grouping-set combinations of (returnflag, linestatus).
    Query("g3_cube", (s, d) => {
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(round(avg(col("l_extendedprice")), 2).as("avg_price"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(avg(l_extendedprice), 2) AS avg_price, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // PIVOT: order counts by priority, one column per priority class.
    Query("g4_pivot", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0) // absent combos: DuckDB's count FILTER yields 0
    },
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
        |    AS "1-URGENT",
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')
        |    AS "3-MEDIUM",
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
        |    AS "4-NOT SPECIFIED",
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // UNPIVOT (melt) — the inverse of g4: wide per-row measures into
    // long (key, measure, value) rows via the native unpivot, which
    // plans ONE scan + an Expand (each input row fans to 3 in the
    // operator) where the SQL formulation scans the table once per
    // measure. At 100 TB that is 1 read vs 3 — melt is how a metric
    // store normalizes wide fact tables, and it must not cost a
    // rescan per column. The measure values pass through UNCHANGED —
    // both engines read the identical parquet doubles, so no rounding
    // is needed (or applied) on either side.
    Query("g9_unpivot", (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "value")
    },
      // the 3-scan SQL form the single-scan Expand plan must reproduce
      """SELECT l_orderkey, l_linenumber,
        |  'l_extendedprice' AS measure, l_extendedprice AS value
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem""".stripMargin),

    // TPC-H Q5-shaped 6-way join: revenue by nation within a region and
    // date window. Dimension chain region->nation is broadcast; the two
    // fact-fact joins shuffle on their keys.
    Query("j5_multiway_join", (s, d) => {
      val dim = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(dim), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
    },
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),

    // FULL OUTER join: both unmatched sides survive. Each input is
    // filtered to a proper subset so all three cases (matched, left-only,
    // right-only) are non-empty; folded to counts so the compared output
    // carries no null cells.
    Query("j7_full_outer", (s, d) => {
      Tables.customer(s, d).filter(col("c_acctbal") > 5000)
        .select("c_custkey")
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
          .select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .select(when(col("c_custkey").isNull, "no_customer")
          .when(col("o_orderkey").isNull, "no_orders")
          .otherwise("matched").as("side"))
        .groupBy("side").agg(count(lit(1)).as("n"))
    },
      """SELECT CASE WHEN c_custkey IS NULL THEN 'no_customer'
        |  WHEN o_orderkey IS NULL THEN 'no_orders'
        |  ELSE 'matched' END AS side, count(*) AS n
        |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) c
        |FULL JOIN (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_totalprice > 300000) o ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin),

    // Exact per-group median without an engine median() (accumulation
    // semantics differ across engines): the middle one/two VALUES
    // averaged, read off the per-group value histogram
    // (RelationalOps.valueHistogram — the de-skewed selection pattern:
    // one map-side-combined hash agg over the fact, a window only over
    // the O(|domain|) histogram; the oracle's rank formulation picks
    // the same values because value-at-rank is histogram-determined).
    Query("g5_median_quantity", (s, d) => {
      val h = RelationalOps.valueHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity")),
        "l_returnflag", col("l_quantity"))
      h.groupBy("l_returnflag")
        .agg(RelationalOps.valueAtRank(expr("(total + 1) div 2"))
            .as("v1"),
          RelationalOps.valueAtRank(expr("(total + 2) div 2")).as("v2"))
        .select(col("l_returnflag"),
          round((col("v1") + col("v2")) / 2, 2).as("median_qty"))
    },
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag, round(avg(l_quantity), 2) AS median_qty
        |FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY l_returnflag""".stripMargin),

    // As-of join: every click annotated with the user's most recent
    // purchase value at-or-before the click (union + running window —
    // one shuffle, no range join). Right side deduped per (user, ts).
    Query("j8_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .select("user_id", "ts", "value")
      RelationalOps.asofJoin(clicks, purchases, Seq("user_id"), "ts",
        Seq("value"))
        .withColumnRenamed("asof_value", "last_purchase")
    },
      """WITH l AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM (
        |  SELECT user_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT l.user_id, l.event_id, l.ts, r.value AS last_purchase
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin),

    // Forward as-of: each click picks the user's NEXT purchase at or
    // after it — j8's mirror ("time to next conversion" lookups). Same
    // single window pass, frame reversed; oracle = DuckDB native ASOF
    // with the inequality flipped.
    Query("j11_asof_forward", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .select("user_id", "ts", "value")
      RelationalOps.asofJoinForward(clicks, purchases, Seq("user_id"),
        "ts", Seq("value"))
        .withColumnRenamed("asof_next_value", "next_purchase")
    },
      """WITH l AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM (
        |  SELECT user_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT l.user_id, l.event_id, l.ts, r.value AS next_purchase
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin),

    // Interval-OVERLAP join (binned): which user sessions overlapped an
    // error incident — both interval sets DERIVED (sessions = built-in
    // session windows per user; incidents = 5-min-gap sessions over
    // error events), then paired by l.start < r.end AND r.start <
    // l.end via hour-bin candidates + exact re-check. The join class
    // j9 can't express: point-in-interval is the zero-length special
    // case. Exact overlap duration in integer microseconds.
    Query("j12_overlap_join", (s, d) => {
      val ev = Tables.events(s, d)
      val sessions = graft.streaming.StreamingOps
        .sessionAgg(ev, "ts", "30 minutes", Seq("user_id"))
        .select(col("user_id"), col("session_start"),
          col("session_end"))
      val incidents = graft.streaming.StreamingOps
        .sessionAgg(ev.filter(col("event_type") === "error"), "ts",
          "5 minutes", Seq())
        .select(col("session_start").as("inc_start"),
          col("session_end").as("inc_end"))
      RelationalOps.overlapJoinBinned(sessions, "session_start",
          "session_end", incidents, "inc_start", "inc_end", 3600L)
        .select(col("user_id"), col("session_start"),
          col("session_end"), col("inc_start"), col("inc_end"),
          (unix_micros(least(col("session_end"), col("inc_end"))
              .cast("timestamp")) -
            unix_micros(greatest(col("session_start"), col("inc_start"))
              .cast("timestamp"))).as("overlap_us"))
    },
      // st3's session CTE chain (per-user 30-min sessions) + the same
      // chain keyless over errors with a 5-min gap, overlap-joined
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
        |  FROM o),
        |sess AS (SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end
        |  FROM g GROUP BY user_id, sess),
        |oe AS (
        |  SELECT ts, event_id,
        |    CASE WHEN lag(ts) OVER we IS NULL
        |      OR ts - lag(ts) OVER we >= INTERVAL 5 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE event_type = 'error'
        |  WINDOW we AS (ORDER BY ts, event_id)),
        |ge AS (SELECT ts,
        |  sum(brk) OVER (ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM oe),
        |inc AS (SELECT min(ts) AS inc_start,
        |  max(ts) + INTERVAL 5 MINUTE AS inc_end
        |  FROM ge GROUP BY sess)
        |SELECT s.user_id, s.session_start, s.session_end,
        |  i.inc_start, i.inc_end,
        |  epoch_us(least(s.session_end, i.inc_end)) -
        |    epoch_us(greatest(s.session_start, i.inc_start))
        |    AS overlap_us
        |FROM sess s JOIN inc i
        |  ON s.session_start < i.inc_end
        |    AND i.inc_start < s.session_end""".stripMargin),

    // Range join (binned): clicks within one hour after an error by the
    // same user — intervals explode into covered hour-bins, candidates
    // from the (user, bin) equi-join, exact BETWEEN on candidates only.
    Query("j9_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("err_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("err_end"))
      RelationalOps.rangeJoinPoints(clicks, "ts", errors,
        "err_start", "err_end", Seq("user_id"), binSeconds = 3600L)
        .select("user_id", "error_id", "click_id")
    },
      """SELECT c.user_id, e.event_id AS error_id, c.event_id AS click_id
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |    AND c.ts <= e.ts + INTERVAL 1 HOUR""".stripMargin),

    // Fuzzy record-linkage join: probe names (a deterministic planted
    // typo — 3rd character dropped) matched back to the part catalog
    // within Levenshtein distance 1, candidates BLOCKED by a 2-char
    // prefix and a ±2 length band. Blocking is part of the declared
    // semantics (standard in record linkage — the oracle applies the
    // same block), and it is what makes the operator scale: the
    // expensive edit-distance runs only inside blocks.
    //
    // The block is a COMPOSITE equi-key (prefix2, length-bucket of
    // width 3), with the probe side exploded to its ±1 neighboring
    // buckets so bucket equality COVERS the ±2 band (|Δlen| ≤ 2 ⇒
    // bucket Δ ∈ {-1,0,1}); the exact band is re-checked after the
    // join, so the candidate set — and the output — is identical to a
    // bare prefix block. Why the composite key: at demo scale the probe
    // side broadcasts and either key works, but at corpus scale the
    // probe side outgrows broadcast and the join degrades to a SHUFFLE
    // on the blocking key — a bare 2-char prefix has ≤676 distinct
    // values (far fewer over a real part vocabulary), i.e. bounded
    // reducer parallelism plus skew. The length dimension multiplies
    // the key cardinality for 3× probe replication, keeping the
    // shuffled join parallel. A part pairs with a probe in at most one
    // exploded bucket row, so no dedup step is needed.
    Query("j10_fuzzy_join", (s, d) => {
      val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      val probes = parts.filter(col("p_partkey") % 200 === 0)
        .select(col("p_partkey").as("probe_key"),
          concat(substring(col("p_name"), 1, 2),
            substring(col("p_name"), 4, 10000)).as("probe_name"))
      val probeLb = floor(length(col("probe_name")) / 3)
      val pb = probes.withColumn("lb",
        explode(array(probeLb - 1, probeLb, probeLb + 1)))
      parts.join(broadcast(pb),
          substring(col("p_name"), 1, 2) ===
            substring(col("probe_name"), 1, 2) &&
            floor(length(col("p_name")) / 3) === col("lb"))
        .filter(abs(length(col("p_name")) - length(col("probe_name"))) <= 2)
        .withColumn("dist",
          levenshtein(col("p_name"), col("probe_name")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("probe_key"), col("p_partkey").as("cand_key"),
          col("dist"))
    },
      """WITH pr AS (SELECT p_partkey AS probe_key,
        |      concat(substr(p_name, 1, 2), substr(p_name, 4))
        |        AS probe_name
        |      FROM part WHERE p_partkey % 200 = 0)
        |SELECT probe_key, p_partkey AS cand_key,
        |  CAST(levenshtein(p_name, probe_name) AS BIGINT) AS dist
        |FROM part JOIN pr
        |  ON substr(p_name, 1, 2) = substr(probe_name, 1, 2)
        |  AND abs(length(p_name) - length(probe_name)) <= 2
        |WHERE levenshtein(p_name, probe_name) <= 1""".stripMargin),

    // AQE skew-join (VERDICT r10 #7 — closes the loop dq5 opens and j6
    // salts by hand): the SAME hot-key problem handed to the runtime
    // instead of the query author. A derived key funnels every third
    // lineitem row onto ONE value (~33% of the fact table on a single
    // key — the monster-key shape dq5's skew_factor detects), the right
    // side is pre-aggregated to one row per key (so the hot key's match
    // set is small and the blowup is purely partition-sided), and the
    // join is forced sort-merge. AQE's OptimizeSkewedJoin then splits
    // the hot shuffle partition into advisory-sized chunks at RUNTIME,
    // duplicating the matching (tiny) right partition per chunk — no
    // salt columns, no replicated dim, no author-chosen factor. The
    // skew confs live on a FORKED session (newSession: shared context +
    // cache, isolated SQLConf) so the aggressive test-scale thresholds
    // (128 KB where prod default is 256 MB) cannot leak into any other
    // query in a shared session. Semantics are AQE-independent — the
    // oracle is the plain join — and PlanAuditSpec asserts the executed
    // plan actually carries skew=true splits, so the demonstration
    // cannot silently degrade into an ordinary merge join. At 100 TB
    // this is the default answer to post-shuffle skew; explicit salting
    // (j6) remains the static tool for skew AQE can't split.
    Query("j13_skew_aqe", (s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // the join output is re-shuffled by the downstream agg anyway;
      // force tells AQE the extra-shuffle cost check doesn't apply
      s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4k")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // advisory=8k exists to size the skew CHUNKS; without this, the
      // same knob also drives post-shuffle coalescing and every other
      // stage re-plans around 8 KB targets — pure overhead here
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", "32")
      // Left side: every third surviving lineitem row funnels onto
      // order key 1 (which exists in orders, so the hot key joins).
      // The frame is first thinned to ONE line per order
      // (l_linenumber = 1, ~4x fewer rows): the demonstration needs a
      // hot partition past the (test-scale) threshold, not the whole
      // fact table — a 4x-smaller frame triggers the identical split
      // mechanics at a quarter of the bench cost (VERDICT r16 #6),
      // with the 4k trip threshold and 16k chunk advisory sized so
      // the sf0.01 hot key (~4.7k rows of compressed shuffle bytes)
      // both trips the detector and splits into >=2 chunks.
      // Right side is the RAW orders table — no aggregation between
      // its shuffle and the join, because OptimizeSkewedJoin only
      // pattern-matches a merge join whose children are
      // sort-over-shuffle DIRECTLY; a pre-aggregated side puts a
      // HashAggregate in between and the rule silently never fires
      // (found the hard way).
      // Skew splitting works at MAP-OUTPUT granularity: AQE can only
      // split a hot reduce partition along the map tasks that produced
      // it, so a single-split scan (the whole test parquet file is one
      // row group = ONE map task) makes every partition unsplittable no
      // matter how skewed. The explicit 16-way repartition is the
      // test-scale stand-in for the thousands of scan tasks a 100 TB
      // fact table feeds the join shuffle with naturally (16, not the
      // former 64: the map count only needs to exceed the chunks the
      // hot partition splits into, and at this scale the extra 48 map
      // tasks were pure scheduling floor — half the query's cost).
      val li = Tables.lineitem(s, d)
        .filter(col("l_linenumber") === 1)
        .select(
          when(col("l_orderkey") % 3 === 0, lit(1L))
            .otherwise(col("l_orderkey")).as("skew_key"),
          col("l_extendedprice"))
        .repartition(16, col("l_extendedprice"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("skew_key"), col("o_orderpriority"))
      li.hint("MERGE").join(ord, Seq("skew_key"))
        .groupBy((col("skew_key") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("rev_cents"),
          max(col("o_orderpriority")).as("max_prio"))
    },
      """WITH li AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1
        |    ELSE l_orderkey END AS skew_key, l_extendedprice
        |  FROM lineitem WHERE l_linenumber = 1)
        |SELECT li.skew_key % 8 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |    AS BIGINT) AS rev_cents,
        |  max(o_orderpriority) AS max_prio
        |FROM li JOIN orders ON li.skew_key = o_orderkey
        |GROUP BY 1""".stripMargin),

    // Grid-binned SPATIAL join — point-in-rectangle containment, the
    // 2-D generalization of j9's interval binning: seeded-hash points
    // (from events) and bounded rectangles (from nation) land in a
    // 100-unit grid; a rectangle covers ≤ 2×2 cells by its size bound,
    // a point exactly one, so candidates meet on a plain cell
    // equi-join (≤ 4 replicas per rectangle, never an all-pairs theta
    // join) and the exact containment predicate re-checks each
    // candidate — the standard partitioned spatial-join shape that
    // scales to any point count. The oracle brute-forces the same
    // containment over the small rectangle set, proving the binning
    // lossless. All coordinates integer.
    Query("j16_spatial_join", (s, d) => {
      def h(tag: String, k: Column) = graft.operators.TextOps
        .md5Prefix60(concat(lit(tag), k.cast("string")))
      val pts = Tables.events(s, d)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"),
          (h("px:", col("event_id")) % 1000).as("px"),
          (h("py:", col("event_id")) % 1000).as("py"))
      val rects = Tables.nation(s, d).select(col("n_nationkey"),
          (h("rx:", col("n_nationkey")) % 900).as("x0"),
          (h("ry:", col("n_nationkey")) % 900).as("y0"),
          (h("rw:", col("n_nationkey")) % 80 + 20).as("w"),
          (h("rh:", col("n_nationkey")) % 80 + 20).as("ht"))
        .select(col("n_nationkey"), col("x0"), col("y0"),
          (col("x0") + col("w")).as("x1"), (col("y0") + col("ht"))
            .as("y1"))
      val rCells = rects.select(col("n_nationkey"), col("x0"),
          col("y0"), col("x1"), col("y1"),
          explode(expr("sequence(x0 div 100, x1 div 100)")).as("cx"))
        .select(col("*"),
          explode(expr("sequence(y0 div 100, y1 div 100)")).as("cy"))
      val pCells = pts.select(col("event_id"), col("px"), col("py"),
        expr("px div 100").as("cx"), expr("py div 100").as("cy"))
      pCells.join(rCells, Seq("cx", "cy"))
        .filter(col("px") >= col("x0") && col("px") <= col("x1") &&
          col("py") >= col("y0") && col("py") <= col("y1"))
        .groupBy("n_nationkey")
        .agg(count(lit(1)).as("n_points"),
          min(col("event_id")).as("first_event"))
    },
      // j16: the oracle brute-forces containment over the 25 rectangles
      // (proving the Spark side's grid binning lossless).
      """WITH pts AS (SELECT event_id,
        |    CAST(concat('0x', substr(md5(concat('px:',
        |      CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000
        |      AS px,
        |    CAST(concat('0x', substr(md5(concat('py:',
        |      CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000
        |      AS py
        |  FROM events WHERE event_id % 20 = 0),
        |rects AS (SELECT n_nationkey,
        |    CAST(concat('0x', substr(md5(concat('rx:',
        |      CAST(n_nationkey AS VARCHAR))), 1, 15)) AS BIGINT) % 900
        |      AS x0,
        |    CAST(concat('0x', substr(md5(concat('ry:',
        |      CAST(n_nationkey AS VARCHAR))), 1, 15)) AS BIGINT) % 900
        |      AS y0,
        |    CAST(concat('0x', substr(md5(concat('rw:',
        |      CAST(n_nationkey AS VARCHAR))), 1, 15)) AS BIGINT) % 80
        |      + 20 AS w,
        |    CAST(concat('0x', substr(md5(concat('rh:',
        |      CAST(n_nationkey AS VARCHAR))), 1, 15)) AS BIGINT) % 80
        |      + 20 AS ht
        |  FROM nation)
        |SELECT r.n_nationkey, count(*) AS n_points,
        |  CAST(min(p.event_id) AS BIGINT) AS first_event
        |FROM pts p JOIN rects r
        |  ON p.px >= r.x0 AND p.px <= r.x0 + r.w
        |  AND p.py >= r.y0 AND p.py <= r.y0 + r.ht
        |GROUP BY 1""".stripMargin),

    // Nearest as-of: the third member of the as-of family — each click
    // takes whichever purchase is closer in time, past (j8's backward
    // window) or future (j11's forward window), ties to the past.
    // Composed from BOTH one-shuffle as-of passes (each carries the
    // matched row's timestamp as an extra value column) + one equi-join
    // on the left key — still no range join, no candidate blow-up;
    // distances compare as exact epoch-micro integers.
    Query("j15_asof_nearest", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("value"),
          col("ts").as("p_ts"))
      val back = RelationalOps.asofJoin(clicks, purchases,
        Seq("user_id"), "ts", Seq("value", "p_ts"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("asof_value").as("b_val"), col("asof_p_ts").as("b_ts"))
      val fwd = RelationalOps.asofJoinForward(clicks, purchases,
        Seq("user_id"), "ts", Seq("value", "p_ts"))
        .select(col("user_id"), col("event_id"),
          col("asof_next_value").as("f_val"),
          col("asof_next_p_ts").as("f_ts"))
      val us = (c: Column) => unix_micros(c.cast("timestamp"))
      val dB = us(col("ts")) - us(col("b_ts"))
      val dF = us(col("f_ts")) - us(col("ts"))
      back.join(fwd, Seq("user_id", "event_id"))
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("b_ts").isNull && col("f_ts").isNull, lit(null))
            .when(col("f_ts").isNull, col("b_val"))
            .when(col("b_ts").isNull, col("f_val"))
            .when(dB <= dF, col("b_val")).otherwise(col("f_val"))
            .as("nearest_purchase"),
          when(col("b_ts").isNull && col("f_ts").isNull, lit("none"))
            .when(col("f_ts").isNull, lit("past"))
            .when(col("b_ts").isNull, lit("future"))
            .when(dB <= dF, lit("past")).otherwise(lit("future"))
            .as("direction"))
    },
      // j15: two native ASOF joins carrying the matched ts, micro-exact
      // distance compare, ties to the past.
      """WITH l AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM (
        |  SELECT user_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |b AS (SELECT l.user_id, l.event_id, l.ts,
        |    r.value AS b_val, r.ts AS b_ts
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.user_id, l.event_id,
        |    r.value AS f_val, r.ts AS f_ts
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT b.user_id, b.event_id, b.ts,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
        |    WHEN f_ts IS NULL THEN b_val
        |    WHEN b_ts IS NULL THEN f_val
        |    WHEN epoch_us(b.ts) - epoch_us(b_ts)
        |      <= epoch_us(f_ts) - epoch_us(b.ts) THEN b_val
        |    ELSE f_val END AS nearest_purchase,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN 'none'
        |    WHEN f_ts IS NULL THEN 'past'
        |    WHEN b_ts IS NULL THEN 'future'
        |    WHEN epoch_us(b.ts) - epoch_us(b_ts)
        |      <= epoch_us(f_ts) - epoch_us(b.ts) THEN 'past'
        |    ELSE 'future' END AS direction
        |FROM b JOIN f ON b.user_id = f.user_id
        |  AND b.event_id = f.event_id""".stripMargin),

    // Temporal allocation (proration): each line item's revenue spreads
    // across the calendar months its order-to-ship interval touches,
    // weighted by the exact day count falling in each month — the
    // accrual/attribution operator behind revenue recognition, budget
    // proration and time-weighted cost splits, which plain GROUP BY
    // month (all-or-nothing on one date) cannot express. Months expand
    // IN-ROW from a bounded date sequence (intervals capped at 90 days
    // → ≤ 4 month rows per line, mirrored in the oracle), so the
    // expansion is O(rows·4) at any scale with no join against a
    // calendar table; the only shuffles are the o_orderkey equi-join
    // and the final month-sized hash agg. Day arithmetic is
    // integer-exact; only the weighted revenue is FP, rounded at 2dp
    // after the sum (the q1 discipline).
    Query("j14_temporal_allocate", (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_shipdate").cast("date").as("d2"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("d1"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("d2") >= col("d1") &&
          datediff(col("d2"), col("d1")) <= 90)
        .withColumn("total", (datediff(col("d2"), col("d1")) + 1)
          .cast("long"))
        .select(col("d1"), col("d2"), col("rev"), col("total"),
          explode(sequence(trunc(col("d1"), "MM").cast("date"),
            trunc(col("d2"), "MM").cast("date"),
            expr("interval 1 month"))).as("m"))
        .withColumn("days",
          (datediff(least(col("d2"), last_day(col("m"))),
            greatest(col("d1"), col("m"))) + 1).cast("long"))
        .groupBy(col("m").as("month"))
        .agg(sum(col("days")).as("alloc_days"),
          round(sum(col("rev") *
            (col("days") / col("total").cast("double"))), 2)
            .as("alloc_revenue"))
    },
      // j14: generate_series steps month starts; day counts are integer,
      // the per-row weight multiplies in the identical operand order.
      """WITH j AS (SELECT o_orderdate::DATE AS d1, l_shipdate::DATE AS d2,
        |    l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate::DATE >= o_orderdate::DATE
        |    AND date_diff('day', o_orderdate::DATE, l_shipdate::DATE)
        |      <= 90),
        |t AS (SELECT d1, d2, rev,
        |    CAST(date_diff('day', d1, d2) + 1 AS BIGINT) AS total FROM j),
        |e AS (SELECT d1, d2, rev, total,
        |    unnest(generate_series(date_trunc('month', d1),
        |      date_trunc('month', d2), INTERVAL 1 MONTH))::DATE AS m
        |  FROM t),
        |o AS (SELECT m, rev, total,
        |    CAST(date_diff('day', greatest(d1, m),
        |      least(d2, last_day(m))) + 1 AS BIGINT) AS days
        |  FROM e)
        |SELECT m AS month, CAST(sum(days) AS BIGINT) AS alloc_days,
        |  round(sum(rev * (days / CAST(total AS DOUBLE))), 2)
        |    AS alloc_revenue
        |FROM o GROUP BY 1""".stripMargin),

    // Salted skew join: same semantics as the plain orders-lineitem join
    // (the oracle IS the plain join), but each order key is split over
    // deterministic salts so a hot key spreads across that many
    // reducers. Salt factor 4: the factor multiplies the replicated
    // side's row count, so it should be sized to the observed skew
    // ratio, not maximized — 4 spreads a hot key across 4 reducers
    // while paying 4x the dim replication (the stress test in
    // RelationalOpsSpec demonstrates 8 on a genuinely hot key).
    Query("j6_salted_join", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      RelationalOps.saltedJoin(li, ord, Seq("l_orderkey"), saltFactor = 4)
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"), count(lit(1)).as("n_items"))
    },
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // SELF-TUNING skew salt (closes the dq5 → j6 loop the way d24's
    // recall gate feeds d23's routing): the salt multiplier is DERIVED
    // in-plan from a one-pass skew pre-pass over the fact side
    // (max-key-count ÷ mean-per-key, exact-integer ceil, clamped to
    // 32) and broadcast into both sides — uniform keys derive salt = 1
    // and the plan degenerates to the plain join; a hot key derives
    // its own spread, with replication priced exactly at the measured
    // skew. Same aggregation as j6 so the semantics-preservation
    // oracle is the plain join; the derived factor is SURFACED as an
    // output column so the oracle also pins the derivation formula
    // (not just that salting didn't corrupt the join).
    Query("j17_adaptive_salt", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      RelationalOps.adaptiveSaltedJoin(li, ord, Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"), count(lit(1)).as("n_items"))
        .crossJoin(broadcast( // 1-row derived factor, made visible
          RelationalOps.derivedSaltFactor(li, Seq("l_orderkey"), 32)
            .select(col("__salt_n").as("salt_factor"))))
    },
      // Mirrors j17: j6's plain join (salting is semantics-preserving)
      // plus the derived multiplier — exact-integer ceil of the dq5
      // skew factor over the fact side's join key, clamped to [1, 32]
      // (// equals Spark's DIV on these nonnegative operands).
      """WITH c AS (SELECT l_orderkey, count(*) AS n
        |           FROM lineitem GROUP BY 1),
        |m AS (SELECT max(n) AS mx, count(*) AS k, sum(n) AS tot FROM c),
        |sf AS (SELECT least(greatest((mx * k + tot - 1) // tot, 1), 32)
        |         AS salt_factor FROM m)
        |SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items, CAST(sf.salt_factor AS BIGINT) AS salt_factor
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey, sf
        |GROUP BY o_orderpriority, sf.salt_factor""".stripMargin),

    // COST-GUARDED join strategy (VERDICT r14 #8 — j17's
    // diagnostic→mitigation loop applied to strategy choice): a
    // CBO-style pre-pass measures the two statistics that decide a
    // physical join — right-side cardinality and the left key's dq5
    // skew factor — and chooseJoinStrategy (a pure, oracle-mirrorable
    // function) picks broadcast / shuffle / salted. Here customer is
    // far under the broadcast budget, so the executed plan is a
    // broadcast hash join (PlanAuditSpec pins the flip to shuffle and
    // to salted when the estimates say otherwise); the output carries
    // the decision and its inputs so the policy itself is
    // oracle-checked, and the join result is strategy-invariant.
    Query("j18_cost_guarded_join", (s, d) => {
      val ord = Tables.orders(s, d).select("o_custkey", "o_totalprice")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val (strategy, joined) = RelationalOps.costGuardedJoin(
        ord, cust, Seq("o_custkey"))
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("price_cents"))
        .crossJoin(broadcast(
          cust.agg(count(lit(1)).as("right_rows"))))
        .select(col("c_mktsegment"), col("n_orders"), col("price_cents"),
          col("right_rows"), lit(strategy).as("strategy"))
    },
      // j18: the decision recomputed relationally — strategy =
      // 'broadcast' iff the right side fits the 1M-row budget (the skew
      // arm can't fire here; its policy is pinned in RelationalOpsSpec
      // and the plan flips in PlanAuditSpec).
      """WITH rr AS (SELECT count(*) AS right_rows FROM customer)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS price_cents,
        |  rr.right_rows,
        |  CASE WHEN rr.right_rows <= 1000000 THEN 'broadcast'
        |       ELSE 'shuffle' END AS strategy
        |FROM orders JOIN customer ON o_custkey = c_custkey, rr
        |GROUP BY c_mktsegment, rr.right_rows""".stripMargin),

    // CATALOG-STATS join planning (VERDICT r15 #3 — j18 with the CBO's
    // statistics read where a CBO actually reads them): the decision
    // inputs come from the persisted ANALYZE catalog (row counts, KMV
    // NDV, dq5 hot-key skew, fingerprint-guarded staleness), built
    // once per (dir, table, key) and amortized over every plan — this
    // invocation costs ZERO statistics jobs once the catalog is warm,
    // where j18 pays a full right-side count every time. Decision
    // thresholds are shared with j18 (parity pinned in
    // CatalogStatsSpec); the decision AND its two inputs are surfaced
    // as columns so the oracle recomputes the whole policy
    // relationally (skew = exact integer ceil, the j17 formula). The
    // join result is strategy-invariant by construction.
    Query("j19_catalog_stats_join", (s, d) => {
      val ord = Tables.orders(s, d).select("o_custkey", "o_totalprice")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val (strategy, _, (rightRows, skew), joined) =
        RelationalOps.costGuardedJoinFromCatalog(s, d,
          ord, "orders", "o_custkey", cust, "customer", "o_custkey",
          Seq("o_custkey"))
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("price_cents"))
        .select(col("c_mktsegment"), col("n_orders"), col("price_cents"),
          lit(rightRows).as("right_rows"), lit(skew).as("skew_factor"),
          lit(strategy).as("strategy"))
    },
      // j19: the catalog's decision inputs recomputed relationally —
      // right_rows exact, skew = the j17 exact-integer ceil over the
      // left key's distribution — and the shared policy applied.
      """WITH rr AS (SELECT count(*) AS right_rows FROM customer),
        |sk AS (SELECT CAST((max(n) * count(*) + sum(n) - 1) // sum(n)
        |    AS BIGINT) AS skew_factor
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_custkey))
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS price_cents,
        |  rr.right_rows, sk.skew_factor,
        |  CASE WHEN rr.right_rows <= 1000000 THEN 'broadcast'
        |       WHEN sk.skew_factor < 4 THEN 'shuffle'
        |       ELSE 'salted' END AS strategy
        |FROM orders JOIN customer ON o_custkey = c_custkey, rr, sk
        |GROUP BY c_mktsegment, rr.right_rows, sk.skew_factor""".stripMargin),

    // Scalar subquery: parts priced above the global average.
    Query("sub1_scalar_subquery", (s, d) => {
      val p = Tables.part(s, d)
      val avgPrice = p.agg(avg(col("p_retailprice")).as("ap"))
      p.join(broadcast(avgPrice))
        .filter(col("p_retailprice") > col("ap"))
        .select("p_partkey", "p_name", "p_retailprice")
    },
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)"""
        .stripMargin),

    // IN-subquery: orders from the 100 richest customers (left-semi).
    Query("sub2_in_subquery", (s, d) => {
      val top = RelationalOps.topKGlobal(Tables.customer(s, d),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), 100)
        .select("c_custkey")
      Tables.orders(s, d)
        .join(broadcast(top), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 100)""".stripMargin),

    // Correlated NOT EXISTS through the SQL surface: Catalyst
    // decorrelates it to a left-anti join (same physical shape as j1),
    // so it scales exactly like the anti-join path.
    // The views exist only long enough for sql() to analyze the plan
    // (analysis is eager, execution lazy) — dropped before returning so
    // no session-global state leaks to other users of the SparkSession.
    Query("sub3_not_exists", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_orders")
      try s.sql("""SELECT c_custkey, c_name FROM graft_customer c
                  |WHERE NOT EXISTS (SELECT 1 FROM graft_orders o
                  |  WHERE o.o_custkey = c.c_custkey
                  |    AND o.o_totalprice > 300000)""".stripMargin)
      finally {
        s.catalog.dropTempView("graft_customer")
        s.catalog.dropTempView("graft_orders")
      }
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > 300000)""".stripMargin),

    // GROUPING SETS via the Spark 4 DataFrame API: one shuffle, the
    // expand happens map-side before the partial aggregate.
    Query("g6_grouping_sets", (s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin),

    // UNION ALL completing the set-operator family (s3 intersect,
    // s4 except): tagged multiset union folded to counts.
    Query("s5_union_all", (s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nkey")))
        .groupBy("nkey").agg(count(lit(1)).as("n"))
    },
      """SELECT nkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nkey""".stripMargin),

    // RANGE-interval window frame: per-user rolling 24-hour event count
    // and value sum — the time-based frame ROWS frames can't express
    // (a row's window is "everything in the last day", not "the last k
    // rows"). Order key = epoch SECONDS (both engines truncate the
    // same way), value sum in integer micro-units, peers-included
    // RANGE semantics identical across engines, so no tiebreak is
    // needed for determinism. One shuffle by user.
    Query("w6_range_frame", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec"))
        .rangeBetween(-86400L, 0L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"),
          floor(col("value") * lit(1000000)).cast("long").as("fx"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum(col("fx")).over(w).cast("double") / lit(1000000.0), 6)
            .as("val_24h"))
    },
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_24h,
        |  round(CAST(sum(CAST(floor(value * 1000000) AS BIGINT))
        |      OVER w AS DOUBLE) / 1000000.0, 6) AS val_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
        |  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)""".stripMargin),

    // CDC-style snapshot diff: per-order shipped-quantity state at two
    // ship-date cutoffs, full-outer-joined on the key and classified
    // added / changed / unchanged (removed can't occur in an
    // append-only fact table, and correctly never appears). Integer
    // quantity sums (cast-then-sum, never float SUM), so the per-class
    // row counts AND the total quantity delta are exact. Shape: two
    // pushed-filter scans, two hash-aggs, one full-outer equi-join on
    // the 8-byte key, one tiny class agg — the standard reconciliation
    // pattern between table versions at any scale.
    Query("cdc1_snapshot_diff", (s, d) => {
      def snap(cut: String) = Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(cut).cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val old = snap(CdcCutOld).withColumnRenamed("qty", "q_old")
      val neu = snap(CdcCutNew).withColumnRenamed("qty", "q_new")
      old.join(neu, Seq("l_orderkey"), "full_outer")
        .select(
          when(col("q_old").isNull, lit("added"))
            .when(col("q_new").isNull, lit("removed"))
            .when(col("q_old") =!= col("q_new"), lit("changed"))
            .otherwise(lit("unchanged")).as("change_type"),
          coalesce(col("q_new"), lit(0L))
            .minus(coalesce(col("q_old"), lit(0L))).as("delta"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_keys"), sum(col("delta")).as("delta_qty"))
    },
      s"""WITH old AS (SELECT l_orderkey,
         |       sum(CAST(l_quantity AS BIGINT)) AS q_old
         |     FROM lineitem
         |     WHERE l_shipdate <= TIMESTAMP '$CdcCutOld' GROUP BY 1),
         |neu AS (SELECT l_orderkey,
         |       sum(CAST(l_quantity AS BIGINT)) AS q_new
         |     FROM lineitem
         |     WHERE l_shipdate <= TIMESTAMP '$CdcCutNew' GROUP BY 1),
         |d AS (SELECT
         |       CASE WHEN q_old IS NULL THEN 'added'
         |            WHEN q_new IS NULL THEN 'removed'
         |            WHEN q_old <> q_new THEN 'changed'
         |            ELSE 'unchanged' END AS change_type,
         |       coalesce(q_new, 0) - coalesce(q_old, 0) AS delta
         |     FROM old FULL OUTER JOIN neu USING (l_orderkey))
         |SELECT change_type, count(*) AS n_keys,
         |  CAST(sum(delta) AS BIGINT) AS delta_qty
         |FROM d GROUP BY 1""".stripMargin),

    // SCD Type-2 dimension build: each customer's order-priority
    // timeline collapsed into validity intervals — one row per change,
    // with valid_from/valid_to and a current flag. Runs of the same
    // priority collapse to the run's first order; ordering is total via
    // the unique o_orderkey tiebreak. Shape: ONE shuffle on o_custkey
    // (change-detect lag + interval-close lead reuse the exchange).
    Query("cdc2_scd2", (s, d) => {
      RelationalOps.scd2Intervals(
        Tables.orders(s, d), "o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey")
    },
      """WITH chg AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |runs AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
        |  FROM chg
        |  WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  CAST(CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) IS NULL
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM runs""".stripMargin),

    // SCD Type-3 — the third slowly-changing-dimension discipline
    // (Type-1 latest-wins = cdc3, Type-2 full history = cdc2): keep
    // ONLY current + previous attribute per key, with the change
    // date — the bounded-width compromise for dimensions where one
    // step of history answers the business question. Per key: the
    // last two distinct-run values via the same change-detect lag as
    // cdc2, then the top-2 run starts; one shuffle on the key.
    Query("cdc5_scd3", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val runs = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate"), col("o_orderkey"))
        .withColumn("prev_attr", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev_attr").isNull ||
          col("prev_attr") =!= col("o_orderpriority"))
      val w2 = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      runs.withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= 2)
        .groupBy("o_custkey")
        .agg(
          max(when(col("rk") === 1, col("o_orderpriority")))
            .as("current_prio"),
          max(when(col("rk") === 1, col("o_orderdate")))
            .as("changed_at"),
          max(when(col("rk") === 2, col("o_orderpriority")))
            .as("previous_prio"))
    },
      // cdc5: cdc2's change-detect runs, top-2 by recency, pivoted to
      // current/previous columns.
      """WITH chg AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |runs AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
        |  FROM chg
        |  WHERE prev IS NULL OR prev <> o_orderpriority),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |  FROM runs)
        |SELECT o_custkey,
        |  max(CASE WHEN rk = 1 THEN o_orderpriority END)
        |    AS current_prio,
        |  max(CASE WHEN rk = 1 THEN o_orderdate END) AS changed_at,
        |  max(CASE WHEN rk = 2 THEN o_orderpriority END)
        |    AS previous_prio
        |FROM rk WHERE rk <= 2 GROUP BY 1""".stripMargin),

    // Latest-wins upsert merge: events before the cut are the base
    // snapshot, events at/after it the change batch; final per-(user,
    // type) state = the row with max (ts, event_id), each key classified
    // inserted / updated / unchanged. ONE hash aggregate with map-side
    // partials — no base-vs-delta join, no window over the raw stream.
    // final_value is a passthrough (the winning row's value, never
    // recomputed), so it hash-matches the oracle bit-for-bit.
    Query("cdc3_merge_upsert", (s, d) => {
      RelationalOps.latestWinsMerge(
        Tables.events(s, d).select(
          col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("value")),
        Seq("user_id", "event_type"), "ts", "event_id", "value", cutTs)
    },
      s"""WITH last AS (
         |  SELECT user_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events),
         |flags AS (
         |  SELECT user_id, event_type,
         |    max(CASE WHEN ts < TIMESTAMP '$cutTs' THEN 1 ELSE 0 END)
         |      AS has_base,
         |    max(CASE WHEN ts >= TIMESTAMP '$cutTs' THEN 1 ELSE 0 END)
         |      AS has_delta
         |  FROM events GROUP BY 1, 2)
         |SELECT l.user_id, l.event_type,
         |  CASE WHEN f.has_delta = 0 THEN 'unchanged'
         |       WHEN f.has_base = 0 THEN 'inserted'
         |       ELSE 'updated' END AS change_type,
         |  l.value AS final_value
         |FROM last l JOIN flags f
         |  ON l.user_id = f.user_id AND l.event_type = f.event_type
         |WHERE l.rn = 1""".stripMargin),

    // CDC with TOMBSTONES: the change stream carries deletes (error
    // events stand in for account-deletion markers), and the merged
    // state must DROP a key whose latest change is a tombstone — the
    // GDPR-shaped semantics cdc3's pure upserts can't express. Every
    // key still gets a verdict row (live with its final value, or
    // deleted with a NULL) so downstream auditing sees what vanished
    // and why. ONE window shuffle: the row_number pick and both
    // per-key counters share the same partitioning.
    Query("cdc4_tombstones", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "error", lit("d"))
          .otherwise(lit("u")).as("op"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val whole = Window.partitionBy("user_id")
      ev.withColumn("rn", row_number().over(pick))
        .withColumn("n_changes", count(lit(1)).over(whole))
        .withColumn("n_deletes",
          sum((col("op") === "d").cast("long")).over(whole))
        .filter(col("rn") === 1)
        .select(col("user_id"),
          when(col("op") === "d", lit("deleted")).otherwise(lit("live"))
            .as("state"),
          when(col("op") === "d", lit(null).cast("double"))
            .otherwise(round(col("value"), 6)).as("final_value"),
          col("n_changes"), col("n_deletes"))
    },
      """WITH e AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT user_id, op, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_changes,
        |    sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id) AS n_deletes
        |  FROM e)
        |SELECT user_id,
        |  CASE WHEN op = 'd' THEN 'deleted' ELSE 'live' END AS state,
        |  CASE WHEN op = 'd' THEN NULL
        |       ELSE round(value, 6) END AS final_value,
        |  n_changes, CAST(n_deletes AS BIGINT) AS n_deletes
        |FROM r WHERE rn = 1""".stripMargin),

    // Per-group MODE with a deterministic tie-break (highest count,
    // then lexicographically smallest value): each customer's most
    // frequent order priority. Count agg then the rank-filter top-1
    // pattern — eligible for Spark's WindowGroupLimit rewrite, so only
    // O(groups) rows cross the window's shuffle.
    Query("g7_mode", (s, d) => {
      val cnt = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      RelationalOps.topKPerGroup(cnt, Seq("o_custkey"),
          Seq(col("n").desc, col("o_orderpriority").asc), 1)
        .select(col("o_custkey"),
          col("o_orderpriority").as("mode_priority"), col("n"))
    },
      """SELECT o_custkey, mode_priority, n FROM (
        |  SELECT o_custkey, o_orderpriority AS mode_priority, n,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM (SELECT o_custkey, o_orderpriority, count(*) AS n
        |        FROM orders GROUP BY 1, 2))
        |WHERE rn = 1""".stripMargin),

    // Weighted median: the quantity-weighted median extended price per
    // return flag — the robust center a metrics pipeline prefers when
    // rows carry unequal mass. Definition: smallest price whose running
    // weight reaches half the total (2·cum ≥ tot — all-integer, no
    // halving division). Weights and cumulative sums are exact Longs,
    // and the crossing point is value-determined (the first ROW
    // crossing half-weight carries the first VALUE whose inclusive
    // cumulative weight crosses it), so the whole selection reads off
    // the weighted value histogram (RelationalOps.valueHistogram with
    // weight = quantity): one skew-free hash agg over the fact, the
    // cum window only over the O(|domain|) histogram. The sk5 sketch
    // is the approximate alternative.
    Query("g8_weighted_median", (s, d) => {
      val h = RelationalOps.valueHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_extendedprice"), col("l_quantity")),
        "l_returnflag", col("l_extendedprice"),
        floor(col("l_quantity")).cast("long"),
        distributedCum = true,
        // price domain bounded (TPC-H part price × qty ≤ 50 ⇒ cents
        // < 2^24) — bucket by shift, no sampling pass
        bucket = Some(shiftright(floor(col("v") * 100).cast("long"), 16)))
      h.filter(col("cum") * 2 >= col("total"))
        .groupBy("l_returnflag")
        .agg(max(col("total")).as("total_weight"),
          min(col("v")).as("w_median"))
    },
      """WITH w AS (SELECT l_returnflag, l_extendedprice,
        |    CAST(floor(l_quantity) AS BIGINT) AS w,
        |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(floor(l_quantity) AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
        |  min(l_extendedprice) AS w_median
        |FROM w WHERE cum * 2 >= tot GROUP BY 1""".stripMargin),

    // Materialized-view maintenance: a per-priority revenue aggregate
    // kept incrementally — the BASE aggregate (orders before the cut,
    // already reduced to O(groups) rows) merged with the DELTA batch's
    // aggregate by unioning partials and re-summing. The algebraic-
    // aggregate law (counts and sums add across disjoint partitions)
    // makes merged == full recompute, and the ORACLE IS the full
    // recompute — so the incremental path is verified against the
    // from-scratch path every round. At 100 TB the merge costs
    // O(groups + delta), never a rescan of the base table.
    Query("mv1_incremental_agg", (s, d) => {
      def part(f: DataFrame => DataFrame) =
        f(Tables.orders(s, d))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * lit(100)).cast("long"))
              .as("cents"))
      val base = part(_.filter(col("o_orderdate") <
        lit(CdcCutOld).cast("timestamp")))
      val delta = part(_.filter(col("o_orderdate") >=
        lit(CdcCutOld).cast("timestamp")))
      base.unionAll(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          round(sum(col("cents")).cast("double") / lit(100.0), 2)
            .as("revenue"))
    },
      // mv1's oracle is the FULL RECOMPUTE — the incremental merge must
      // equal aggregating the whole table from scratch.
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    AS DOUBLE) / 100.0, 2) AS revenue
        |FROM orders GROUP BY 1""".stripMargin),

    // MV maintenance WITH RETRACTIONS: the rolling-window version of
    // mv1. The view covers orders from CdcCutOld onward; the previous
    // materialization covered everything before CdcCutNew, so the
    // maintenance delta both INSERTS the new tail (≥ CdcCutNew) and
    // DELETES the expired head (< CdcCutOld) — deletes ride the same
    // partial-merge path with sign −1 (counts and sums are abelian:
    // retraction is addition of the negation). Oracle = direct
    // recompute of the current window, so insert+retract must land
    // exactly on from-scratch. Cost at 100 TB: O(groups + tail +
    // head), never a window rescan.
    Query("mv2_retract_agg", (s, d) => {
      def part(f: DataFrame => DataFrame, sign: Int) =
        f(Tables.orders(s, d))
          .groupBy(col("o_orderpriority"))
          .agg((count(lit(1)) * sign).as("n_orders"),
            (sum(floor(col("o_totalprice") * lit(100)).cast("long"))
              * sign).as("cents"))
      val base = part(_.filter(col("o_orderdate") <
        lit(CdcCutNew).cast("timestamp")), 1)
      val ins = part(_.filter(col("o_orderdate") >=
        lit(CdcCutNew).cast("timestamp")), 1)
      val del = part(_.filter(col("o_orderdate") <
        lit(CdcCutOld).cast("timestamp")), -1)
      base.unionAll(ins).unionAll(del)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          round(sum(col("cents")).cast("double") / lit(100.0), 2)
            .as("revenue"))
    },
      // mv2's oracle is the direct recompute of the CURRENT window — the
      // insert+retract merge must land exactly on from-scratch.
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    AS DOUBLE) / 100.0, 2) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY 1""".stripMargin),

    // MV maintenance for a JOIN view (delta join): the view is the
    // per-priority item count + revenue over orders ⋈ lineitem. With
    // each base split old ∪ delta (orders by o_orderdate at CdcCutOld,
    // lineitem by l_shipdate at MvLiCut — a LATER cut, so every one of
    // the four terms is exercised: ship lag makes order-delta ⋈
    // lineitem-base real), the join distributes over union:
    //   J = A0⋈B0 ∪ ΔA⋈B0 ∪ A0⋈ΔB ∪ ΔA⋈ΔB
    // The first term is the already-materialized view (recomputed here
    // so the ORACLE checks the algebra against a from-scratch join; a
    // production refresh reads it back), and each delta term joins a
    // DELTA against a base — O(|Δ|·fanout) work instead of re-joining
    // two 100 TB tables. The aggregates then merge by mv1's
    // partial-union law (counts/sums add across disjoint terms; the
    // four terms ARE disjoint because the splits partition each side).
    Query("mv3_delta_join", (s, d) => {
      val ordCut = lit(CdcCutOld).cast("timestamp")
      val liCut = lit(MvLiCut).cast("timestamp")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"),
          floor(col("l_extendedprice") * lit(100)).cast("long")
            .as("cents"))
      val a0 = ord.filter(col("o_orderdate") < ordCut)
      val da = ord.filter(col("o_orderdate") >= ordCut)
      val b0 = li.filter(col("l_shipdate") < liCut)
      val db = li.filter(col("l_shipdate") >= liCut)
      def term(a: DataFrame, b: DataFrame) =
        a.join(b, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      term(a0, b0).unionAll(term(da, b0)).unionAll(term(a0, db))
        .unionAll(term(da, db))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_items"),
          round(sum(col("cents")).cast("double") / lit(100.0), 2)
            .as("revenue"))
    },
      // full recompute of the join view — the incremental path must land
      // exactly on from-scratch
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS DOUBLE) / 100.0, 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),

    // Ratio-to-report: each order's share of its priority class's
    // total revenue — the windowed percent-of-total. Integer cents on
    // both numerator and denominator (the class total is a whole-
    // partition window sum of Longs, order-independent), ONE rounded
    // division on output. One shuffle on the class key.
    Query("w7_ratio_to_report", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * lit(100)).cast("long").as("cents"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("cents").cast("double") /
            sum(col("cents")).over(w).cast("double"), 6).as("share"))
    },
      """WITH c AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  round(CAST(cents AS DOUBLE) /
        |    CAST(sum(cents) OVER (PARTITION BY o_orderpriority)
        |      AS DOUBLE), 6) AS share
        |FROM c""".stripMargin),

    // Exact multi-percentile per group: p25/p50/p75/p95 of
    // extendedprice per return flag, each defined as the value at rank
    // ceil(q·n) (type-1 / "discontinuous" quantile — an exact member
    // of the data, no interpolation; 0.25/0.5/0.75 are exact binary
    // and 0.95 rounds DOWN, the safe direction for ceil). All four
    // read off ONE value histogram (RelationalOps.valueHistogram):
    // the fact table is hash-aggregated once (skew-free key), the
    // window runs over the O(|domain|) histogram — never a ~n/3-row
    // per-task sort behind the cardinality-3 partitionBy (the r11
    // scale-killer). g5 (median) is the single-q special case; the
    // sk5 sketch is the documented path when approximation is
    // acceptable.
    Query("w9_percentiles", (s, d) => {
      val h = RelationalOps.valueHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_extendedprice")),
        "l_returnflag", col("l_extendedprice"),
        distributedCum = true,
        // price domain bounded (TPC-H part price × qty ≤ 50 ⇒ cents
        // < 2^24) — bucket by shift, no sampling pass
        bucket = Some(shiftright(floor(col("v") * 100).cast("long"), 16)))
      def pick(q: Double, name: String) =
        RelationalOps.valueAtRank(
          ceil(col("total").cast("double") * lit(q))).as(name)
      h.groupBy("l_returnflag").agg(
        pick(0.25, "p25"), pick(0.50, "p50"),
        pick(0.75, "p75"), pick(0.95, "p95"),
        max(col("total")).as("n_rows"))
    },
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) * 0.25)
        |    THEN l_extendedprice END) AS p25,
        |  max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) * 0.50)
        |    THEN l_extendedprice END) AS p50,
        |  max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) * 0.75)
        |    THEN l_extendedprice END) AS p75,
        |  max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) * 0.95)
        |    THEN l_extendedprice END) AS p95,
        |  max(cnt) AS n_rows
        |FROM r GROUP BY 1""".stripMargin),

    // Per-group top-k VALUES via the native bounded-heap aggregate
    // (TopKAgg) — the aggregate-shaped alternative to w1's window
    // top-k. The window form sorts every row of every group behind one
    // shuffle; the heap keeps at most k doubles per (partition, group),
    // so the exchange carries <= k values per partial and nothing is
    // globally sorted — at 100 TB this is the difference between a
    // full sort-shuffle of the fact table and a kilobyte merge.
    // Output is the sorted multiset of values (ties keep duplicates),
    // which is deterministic without a row tiebreak. The heap's array
    // is pos-exploded to scalar (group, rank, value) rows: equal values
    // make any tiebreak emit the same triples, and scalar rows are what
    // the driver's column-sorted row hash can compare.
    Query("w8_topk_native", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(org.apache.spark.sql.graft.AnalyticsAggregates
          .topK(col("l_extendedprice"), 5).as("top5"))
        .select(col("l_returnflag"), posexplode(col("top5")))
        .select(col("l_returnflag"), (col("pos") + lit(1L)).as("rank"),
          col("col").as("value"))
    },
      // row_number ties between EQUAL prices are harmless: only the value
      // appears in the output, so any tiebreak yields the same triples.
      """SELECT l_returnflag, rn AS rank, l_extendedprice AS value
        |FROM (SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC) AS rn
        |  FROM lineitem) WHERE rn <= 5""".stripMargin
  ))

}
