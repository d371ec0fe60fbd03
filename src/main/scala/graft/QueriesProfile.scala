package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ProfileOps
import graft.operators.ProfileOps.ProfileCol
import graft.sources.Tables

/** Data-quality queries (north-star extension): single-pass column
  * profiling and referential-integrity gates over the TPC-H-ish
  * tables — the checks a pipeline runs before promoting a snapshot.
  *
  * Hash-input canonicalization (the cross-engine contract): integer
  * keys hash as their decimal string; the double `o_totalprice` hashes
  * as exact CENTS (floor(·100) cast to long) because double→string
  * formatting is not stable across engines; plain strings hash as
  * themselves. The oracle mirrors each canonicalization exactly.
  */
object QueriesProfile {

  /** The shared orders column specs (dq1 profiles the whole table,
    * dq3 profiles two snapshots of it). */
  private def orderSpecs: Seq[ProfileCol] = Seq(
    ProfileCol("o_orderkey", col("o_orderkey").cast("string"),
      Some(col("o_orderkey"))),
    ProfileCol("o_custkey", col("o_custkey").cast("string"),
      Some(col("o_custkey"))),
    ProfileCol("o_totalprice",
      floor(col("o_totalprice") * lit(100)).cast("long").cast("string"),
      Some(col("o_totalprice"))),
    ProfileCol("o_orderstatus", col("o_orderstatus"), None),
    ProfileCol("o_orderpriority", col("o_orderpriority"), None))

  /** dq3 snapshot cutoff (mid-range of the 1995–2001 order dates):
    * "old" = orders placed up to the cutoff, "new" = all orders. */
  private[graft] val DriftCut = "1998-06-30 00:00:00"

  lazy val registry: Seq[Query] = Seq(
    // Per-column completeness / cardinality / range profile of orders:
    // ONE scan, ONE aggregate, one native KMV buffer per column — no
    // per-column jobs, no c-fold count-distinct Expand of the scan;
    // enum-sized columns report EXACT distinct counts (KMV under k).
    Query("dq1_profile", (s, d) => {
      ProfileOps.profile(Tables.orders(s, d), orderSpecs)
    },
      profileArms("TRUE")),

    // Profile DRIFT between two snapshots: the per-column stats of the
    // as-of-cutoff table joined to the current table's, with the
    // cardinality ratio — the "did this batch change the shape of the
    // data" gate an ML pipeline runs before retraining. Two single-pass
    // profiles (one scan each), one 5-row join.
    Query("dq3_profile_drift", (s, d) => {
      val orders = Tables.orders(s, d)
      val old = ProfileOps.profile(
          orders.filter(col("o_orderdate") <=
            lit(DriftCut).cast("timestamp")), orderSpecs)
        .select(col("col_name"), col("n").as("n_old"),
          col("distinct_est").as("est_old"))
      val neu = ProfileOps.profile(orders, orderSpecs)
        .select(col("col_name"), col("n").as("n_new"),
          col("distinct_est").as("est_new"))
      old.join(neu, Seq("col_name"))
        .select(col("col_name"), col("n_old"), col("n_new"),
          col("est_old"), col("est_new"),
          round(col("est_new") / col("est_old"), 6).as("est_ratio"))
    },
      {
      val oldWhere = s"o_orderdate <= TIMESTAMP '$DriftCut'"
      s"""WITH po AS (${profileArms(oldWhere)}),
         |pn AS (${profileArms("TRUE")})
         |SELECT po.col_name, po.n AS n_old, pn.n AS n_new,
         |  po.distinct_est AS est_old, pn.distinct_est AS est_new,
         |  round(pn.distinct_est / po.distinct_est, 6) AS est_ratio
         |FROM po JOIN pn ON po.col_name = pn.col_name""".stripMargin
    }),

    // Referential integrity: orphaned foreign keys per fact→dim edge
    // (anti-join counts next to fact row counts; a healthy snapshot
    // reports zero orphans — and these tables do).
    Query("dq2_ref_integrity", (s, d) => {
      ProfileOps.refIntegrity(Seq(
        ("lineitem->orders", Tables.lineitem(s, d), col("l_orderkey"),
          Tables.orders(s, d), col("o_orderkey")),
        ("orders->customer", Tables.orders(s, d), col("o_custkey"),
          Tables.customer(s, d), col("c_custkey"))))
    },
      """SELECT 'lineitem->orders' AS fk,
        |  (SELECT count(*) FROM lineitem l
        |   LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) d
        |     ON l.l_orderkey = d.k
        |   WHERE d.k IS NULL) AS n_orphans,
        |  (SELECT count(*) FROM lineitem) AS n_rows
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders o
        |   LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) d
        |     ON o.o_custkey = d.k
        |   WHERE d.k IS NULL),
        |  (SELECT count(*) FROM orders)""".stripMargin),

    // Equi-width 20-bucket histogram of order totals in EXACT cents:
    // the value-distribution half of profiling (dq1 covers nulls /
    // cardinality / range). Integer bucket math on fixed-point values
    // — floor-div on non-negative operands — so bucket boundaries are
    // bit-identical across engines; raw-double bucketing would not be.
    Query("dq4_histogram", (s, d) => {
      ProfileOps.histogramFx(Tables.orders(s, d),
        floor(col("o_totalprice") * lit(100)), 20)
    },
      """WITH x AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
        |             AS fx FROM orders),
        |b AS (SELECT min(fx) AS mn, max(fx) AS mx FROM x)
        |SELECT ((fx - mn) * 20) // (mx - mn + 1) AS bucket,
        |  count(*) AS n, min(fx) AS min_fx, max(fx) AS max_fx
        |FROM x, b GROUP BY 1""".stripMargin),

    // Hot-key diagnostics: the 20 heaviest event keys with their share
    // of all rows and a skew factor (count ÷ mean-per-key) — the
    // measurement that DECIDES whether a join needs j6-style salting
    // (skew_factor ≈ the right salt multiplier) or can rely on AQE.
    // One hash agg + TakeOrderedAndProject + a broadcast 1-row total;
    // integer counts, two rounded output divisions.
    Query("dq5_key_skew", (s, d) => {
      val ev = Tables.events(s, d)
      val cnt = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val tot = ev.agg(count(lit(1)).as("tot"),
        countDistinct(col("user_id")).as("n_keys"))
      graft.operators.RelationalOps.topKGlobal(cnt,
          Seq(col("n").desc, col("user_id").asc), 20)
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("share"),
          round((col("n") * col("n_keys")).cast("double") /
            col("tot").cast("double"), 6).as("skew_factor"))
    },
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS tot, count(DISTINCT user_id) AS n_keys
        |      FROM events),
        |k AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 20)
        |SELECT user_id, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |  round(CAST(n * n_keys AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |    AS skew_factor
        |FROM k, t""".stripMargin),

    // Pearson correlation matrix over lineitem's numeric columns from
    // EXACT integer moments: quantize each column to integers
    // (quantity units / whole dollars / discount percent), accumulate
    // n, Σx, Σx², Σxy as Longs in ONE map-side-combined pass (never
    // built-in corr(), whose double accumulation is partition-order-
    // dependent), then ONE double combination per pair in an
    // expression shape both engines evaluate identically. This is the
    // profiling step that finds redundant/derived columns before a
    // feature store ships them. Long bounds (ADVICE r10): price is
    // quantized to TENS of dollars, so Σx2² ≤ rows·(1.1e4)² ≈
    // rows·1.2e8 — at sf100 (~6e8 rows) that is ~7e16 of the 9.2e18
    // Int64 range, exact with ~100× headroom where whole-dollar
    // quantization would have been one order from silent wraparound.
    // Correlation is scale-invariant up to the quantization grain, so
    // the coarser unit costs ~3 decimal digits of r, identically on
    // both engines (the oracle quantizes the same way).
    Query("dq6_correlation", (s, d) => {
      val li = Tables.lineitem(s, d).select(
        floor(col("l_quantity")).cast("long").as("x1"),
        floor(col("l_extendedprice") / 10).cast("long").as("x2"),
        floor(col("l_discount") * 100).cast("long").as("x3"))
      val m = li.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x3")).as("s3"),
        sum(col("x1") * col("x1")).as("q1"),
        sum(col("x2") * col("x2")).as("q2"),
        sum(col("x3") * col("x3")).as("q3"),
        sum(col("x1") * col("x2")).as("p12"),
        sum(col("x1") * col("x3")).as("p13"),
        sum(col("x2") * col("x3")).as("p23"))
      def r(sx: Column, sy: Column, qx: Column, qy: Column,
          pxy: Column) = {
        val n = col("n").cast("double")
        round((n * pxy.cast("double") -
            sx.cast("double") * sy.cast("double")) /
          sqrt((n * qx.cast("double") -
              sx.cast("double") * sx.cast("double")) *
            (n * qy.cast("double") -
              sy.cast("double") * sy.cast("double"))), 6)
      }
      m.select(col("n"),
        r(col("s1"), col("s2"), col("q1"), col("q2"), col("p12"))
          .as("r_qty_price"),
        r(col("s1"), col("s3"), col("q1"), col("q3"), col("p13"))
          .as("r_qty_disc"),
        r(col("s2"), col("s3"), col("q2"), col("q3"), col("p23"))
          .as("r_price_disc"))
    },
      // identical moment quantization and double-combination shape; every
      // moment CAST from HUGEINT to DOUBLE before any arithmetic
      {
      def r(sx: String, sy: String, qx: String, qy: String,
          pxy: String) =
        s"""round((CAST(n AS DOUBLE) * CAST($pxy AS DOUBLE) -
           |    CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE)) /
           |  sqrt((CAST(n AS DOUBLE) * CAST($qx AS DOUBLE) -
           |      CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE)) *
           |    (CAST(n AS DOUBLE) * CAST($qy AS DOUBLE) -
           |      CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE))), 6)"""
          .stripMargin
      s"""WITH x AS (SELECT
         |    CAST(floor(l_quantity) AS BIGINT) AS x1,
         |    CAST(floor(l_extendedprice / 10) AS BIGINT) AS x2,
         |    CAST(floor(l_discount * 100) AS BIGINT) AS x3
         |  FROM lineitem),
         |m AS (SELECT count(*) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         |    sum(x1 * x1) AS q1, sum(x2 * x2) AS q2,
         |    sum(x3 * x3) AS q3,
         |    sum(x1 * x2) AS p12, sum(x1 * x3) AS p13,
         |    sum(x2 * x3) AS p23
         |  FROM x)
         |SELECT CAST(n AS BIGINT) AS n,
         |  ${r("s1", "s2", "q1", "q2", "p12")} AS r_qty_price,
         |  ${r("s1", "s3", "q1", "q3", "p13")} AS r_qty_disc,
         |  ${r("s2", "s3", "q2", "q3", "p23")} AS r_price_disc
         |FROM m""".stripMargin
    }),

    // Population Stability Index — the distribution-drift monitor that
    // completes dq3 (which tracks cardinality drift): order totals
    // bucketed into 10 fixed-width bins, the old/new period shares
    // compared via PSI's per-bucket term (p_new − p_old)·ln(p_new/p_old)
    // with Laplace +1 smoothing so empty buckets stay finite and the
    // ratios stay exact rationals. The industry decision thresholds
    // (<0.1 stable, >0.25 shifted) apply to the SUM of these rows.
    // Both periods count in ONE scan (conditional sums, map-side
    // partials), the 0–9 spine guarantees every bucket a row, and the
    // 10-row math is driver-trivial at any data scale — the whole cost
    // is the single pass over orders.
    // IQR outlier screen — Tukey's 1.5·IQR fence per group, the
    // robust outlier count a profiling pass reports beside dq1's
    // min/max (which a single wild value saturates): interpolated
    // quartiles via w11's value-histogram machinery (UNROUNDED —
    // both engines derive bit-equal fence doubles through the
    // identical operand order, so the count compare cannot flip),
    // then ONE conditional-aggregate pass against the broadcast
    // fences. Two fact passes total (histogram agg + count), no
    // fact-table rank window, O(groups + |domain|) state.
    // Replica reconciliation — the migration/replication validation
    // recipe every platform team runs before cutting over a 100 TB
    // table: a modeled replica of orders (seeded-hash ~0.5% rows
    // dropped, ~0.3% values drifted — the faults exist identically on
    // both engines) is reconciled against the source with (1) cheap
    // per-partition fingerprints first — row counts + an
    // ORDER-INDEPENDENT bit_xor of a 60-bit row hash, one scan each
    // side, O(partitions) output, no join — and (2) the row-level
    // drill-down (key anti-join for drops, key join + value compare
    // for drift) that at scale runs ONLY on partitions whose
    // fingerprints disagree. bit_xor is the right checksum shape:
    // commutative/associative (shuffle-order-free), overflow-free
    // where a sum of 2^60-scale hashes would wrap, and any single
    // changed row flips it.
    Query("dq13_replica_reconcile", (s, d) => {
      val src = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        col("o_orderpriority").as("part"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val rep = src
        .filter(graft.operators.TextOps.md5Prefix60(
          concat(lit("rk:"), col("k").cast("string"))) % 200 =!= 0)
        .withColumn("cents", col("cents") +
          when(graft.operators.TextOps.md5Prefix60(
            concat(lit("rv:"), col("k").cast("string"))) % 300 === 0,
            1L).otherwise(0L))
      def fp(df: DataFrame, pfx: String) = df
        .withColumn("rh", graft.operators.TextOps.md5Prefix60(
          concat(col("k").cast("string"), lit(":"),
            col("cents").cast("string"))))
        .groupBy("part")
        .agg(count(lit(1)).as(s"n_$pfx"),
          expr("bit_xor(rh)").as(s"x_$pfx"))
      val dropped = src.join(rep.select("k"), Seq("k"), "left_anti")
        .groupBy("part").agg(count(lit(1)).as("n_dropped"))
      val drifted = src.select(col("k"), col("part"),
          col("cents").as("c_src"))
        .join(rep.select(col("k"), col("cents").as("c_rep")), Seq("k"))
        .filter(col("c_src") =!= col("c_rep"))
        .groupBy("part").agg(count(lit(1)).as("n_drifted"))
      fp(src, "src").join(fp(rep, "rep"), Seq("part"), "left")
        .join(dropped, Seq("part"), "left")
        .join(drifted, Seq("part"), "left")
        .select(col("part"), col("n_src"),
          coalesce(col("n_rep"), lit(0L)).as("n_rep"),
          (col("x_src") <=> col("x_rep")).as("checksum_match"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          coalesce(col("n_drifted"), lit(0L)).as("n_drifted"))
    },
      // dq13: identical seeded faults, identical 60-bit row hash, and
      // bit_xor is the same order-free fold on both engines.
      {
      val hK = h60("concat('rk:', CAST(o_orderkey AS VARCHAR))")
      val hV = h60("concat('rv:', CAST(o_orderkey AS VARCHAR))")
      s"""WITH src AS (SELECT o_orderkey AS k,
         |    o_orderpriority AS part,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |rep AS (SELECT k, part,
         |    cents + (CASE WHEN $hV % 300 = 0 THEN 1 ELSE 0 END)
         |      AS cents
         |  FROM (SELECT o_orderkey AS k, o_orderpriority AS part,
         |      CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         |      o_orderkey
         |    FROM orders)
         |  WHERE $hK % 200 != 0),
         |fs AS (SELECT part, count(*) AS n_src,
         |    bit_xor(${h60(
              "concat(CAST(k AS VARCHAR), ':', CAST(cents AS VARCHAR))")})
         |      AS x_src
         |  FROM src GROUP BY 1),
         |fr AS (SELECT part, count(*) AS n_rep,
         |    bit_xor(${h60(
              "concat(CAST(k AS VARCHAR), ':', CAST(cents AS VARCHAR))")})
         |      AS x_rep
         |  FROM rep GROUP BY 1),
         |dr AS (SELECT part, count(*) AS n_dropped FROM src
         |  WHERE k NOT IN (SELECT k FROM rep) GROUP BY 1),
         |df AS (SELECT s.part, count(*) AS n_drifted
         |  FROM src s JOIN rep r ON s.k = r.k
         |  WHERE s.cents != r.cents GROUP BY 1)
         |SELECT fs.part, fs.n_src,
         |  coalesce(fr.n_rep, 0) AS n_rep,
         |  coalesce(fs.x_src = fr.x_rep, FALSE) AS checksum_match,
         |  coalesce(dr.n_dropped, 0) AS n_dropped,
         |  coalesce(df.n_drifted, 0) AS n_drifted
         |FROM fs LEFT JOIN fr ON fs.part = fr.part
         |LEFT JOIN dr ON fs.part = dr.part
         |LEFT JOIN df ON fs.part = df.part""".stripMargin
    }),

    // Robust z-score outliers (MAD / modified z, Iglewicz–Hoaglin
    // |0.6745·(x−med)/MAD| > 3.5) — the robust screen that, unlike
    // dq12's IQR fences, stays calibrated when the tail is heavy on
    // one side. ENTIRELY integer end to end: med and MAD are medians
    // of integer quantities, so with s = v1+v2 (twice the median) and
    // t = |2q − s| (twice the deviation, an integer), MAD's median
    // pair (w1, w2) makes the outlier test
    // 13490·t > 35000·(w1+w2) — exact Longs, no FP threshold to
    // ulp-flip. Three skew-free passes, each a hash agg off
    // RelationalOps.valueHistogram (the g5 house pattern applied
    // twice), medians broadcast back.
    Query("dq14_mad_outliers", (s, d) => {
      import graft.operators.RelationalOps
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"))
      val med = RelationalOps.valueHistogram(li, "l_returnflag",
          col("q"))
        .groupBy("l_returnflag")
        .agg(RelationalOps.valueAtRank(expr("(total + 1) div 2"))
            .as("v1"),
          RelationalOps.valueAtRank(expr("(total + 2) div 2")).as("v2"))
        .select(col("l_returnflag"), (col("v1") + col("v2")).as("s"))
      val withT = li.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("t", abs(col("q") * 2 - col("s")))
      val mad = RelationalOps.valueHistogram(
          withT.select(col("l_returnflag"), col("t")),
          "l_returnflag", col("t"))
        .groupBy("l_returnflag")
        .agg(RelationalOps.valueAtRank(expr("(total + 1) div 2"))
            .as("w1"),
          RelationalOps.valueAtRank(expr("(total + 2) div 2")).as("w2"))
        .select(col("l_returnflag"), (col("w1") + col("w2")).as("w"))
      withT.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(max(col("s")).cast("double") / 2, 1).as("median_q"),
          round(max(col("w")).cast("double") / 4, 2).as("mad"),
          sum(when(col("t") * 13490 > col("w") * 35000, 1L)
            .otherwise(0L)).as("n_outliers"))
    },
      // dq8: same one-scan conditional counts, 0-9 spine via range(10),
      // Laplace-smoothed shares, identical ln-ratio term
      // dq12: same unrounded interpolated quartiles and fences.
      // dq14: medians are value-determined, so the oracle's rank
      // formulation (with per-rank multiplicity, k1 == k2 on odd counts
      // must contribute the value twice) picks the same s/w integers;
      // the outlier test is the identical exact-Long comparison.
      """WITH li AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |r1 AS (SELECT g, q,
        |    row_number() OVER (PARTITION BY g ORDER BY q) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM li),
        |med AS (SELECT g,
        |    CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN q ELSE 0 END)
        |      + sum(CASE WHEN rn = (cnt + 2) // 2 THEN q ELSE 0 END)
        |      AS BIGINT) AS s
        |  FROM r1 GROUP BY g),
        |tt AS (SELECT li.g, li.q, abs(li.q * 2 - med.s) AS t, med.s
        |  FROM li JOIN med ON li.g = med.g),
        |r2 AS (SELECT g, t,
        |    row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM tt),
        |mad AS (SELECT g,
        |    CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN t ELSE 0 END)
        |      + sum(CASE WHEN rn = (cnt + 2) // 2 THEN t ELSE 0 END)
        |      AS BIGINT) AS w
        |  FROM r2 GROUP BY g)
        |SELECT tt.g AS l_returnflag, count(*) AS n_rows,
        |  round(CAST(max(tt.s) AS DOUBLE) / 2, 1) AS median_q,
        |  round(CAST(max(mad.w) AS DOUBLE) / 4, 2) AS mad,
        |  CAST(sum(CASE WHEN tt.t * 13490 > mad.w * 35000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM tt JOIN mad ON tt.g = mad.g
        |GROUP BY 1""".stripMargin),

    Query("dq12_outlier_iqr", (s, d) => {
      val h = graft.operators.RelationalOps.valueHistogram(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity")),
        "l_returnflag", col("l_quantity"))
      val q = h
        .withColumn("p", explode(array(lit(0.25), lit(0.75))))
        .withColumn("pos", (col("total") - 1).cast("double") * col("p"))
        .withColumn("lo", floor(col("pos")).cast("long"))
        .withColumn("hi", ceil(col("pos")).cast("long"))
        .groupBy("l_returnflag", "p", "pos")
        .agg(max(when(col("cum_before") <= col("lo") &&
            col("lo") < col("cum"), col("v"))).as("v_lo"),
          max(when(col("cum_before") <= col("hi") &&
            col("hi") < col("cum"), col("v"))).as("v_hi"))
        .select(col("l_returnflag"), col("p"),
          (col("v_lo") + (col("pos") - floor(col("pos"))) *
            (col("v_hi") - col("v_lo"))).as("q"))
      val quart = q.groupBy("l_returnflag")
        .agg(max(when(col("p") === 0.25, col("q"))).as("q1"),
          max(when(col("p") === 0.75, col("q"))).as("q3"))
      val fences = quart.select(col("l_returnflag"), col("q1"),
        col("q3"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo_b"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi_b"))
      Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity"))
        .join(broadcast(fences), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") < col("lo_b") ||
            col("l_quantity") > col("hi_b"), 1L).otherwise(0L))
            .as("n_outliers"),
          round(max(col("q1")), 6).as("q1"),
          round(max(col("q3")), 6).as("q3"))
    },
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) - 1
        |      AS BIGINT) AS rn
        |  FROM lineitem),
        |nn AS (SELECT l_returnflag, count(*) AS n FROM r GROUP BY 1),
        |pr AS (SELECT l_returnflag, p,
        |    CAST(n - 1 AS DOUBLE) * p AS pos,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS lo,
        |    CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS hi
        |  FROM nn, (SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE)
        |    AS p) ps),
        |q AS (SELECT pr.l_returnflag, pr.p,
        |    vlo.l_quantity + (pr.pos - CAST(pr.lo AS DOUBLE))
        |      * (vhi.l_quantity - vlo.l_quantity) AS q
        |  FROM pr
        |  JOIN r vlo ON pr.l_returnflag = vlo.l_returnflag
        |    AND vlo.rn = pr.lo
        |  JOIN r vhi ON pr.l_returnflag = vhi.l_returnflag
        |    AND vhi.rn = pr.hi),
        |qq AS (SELECT l_returnflag,
        |    max(CASE WHEN p = 0.25 THEN q END) AS q1,
        |    max(CASE WHEN p = 0.75 THEN q END) AS q3
        |  FROM q GROUP BY 1),
        |f AS (SELECT l_returnflag, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo_b,
        |    q3 + 1.5 * (q3 - q1) AS hi_b
        |  FROM qq)
        |SELECT l.l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l.l_quantity < f.lo_b
        |    OR l.l_quantity > f.hi_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(max(f.q1), 6) AS q1, round(max(f.q3), 6) AS q3
        |FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
        |GROUP BY 1""".stripMargin),

    // Functional-dependency audit — the "is this column determined by
    // that key" profiling question behind normalization checks and
    // key discovery: for each candidate FD, the distinct (key, rhs)
    // pair table collapses to per-key rhs counts, and keys with more
    // than one rhs are violations. Three FDs (one that HOLDS —
    // nation→region — and two that don't) in three distinct-pair aggs
    // + O(keys) summaries. At 100 TB each FD costs one distinct
    // shuffle of the PAIR table (already deduped map-side), never a
    // self-join.
    Query("dq10_fd_check", (s, d) => {
      // One aggregation chain per table (VERDICT r16 #6): the previous
      // shape paid distinct() + groupBy(k) — two full exchanges of the
      // pair table per FD; countDistinct(v) plans the same answer as
      // one partial-deduped (k,v) aggregate feeding the per-key merge,
      // and the three per-key summaries collapse in the same pass.
      def fd(df: DataFrame, name: String, k: String, v: String) =
        df.select(col(k).as("k"), col(v).as("v"))
          .groupBy("k").agg(countDistinct(col("v")).as("nv"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("nv") > 1, 1L).otherwise(0L))
              .as("n_violating"),
            max(col("nv")).as("max_rhs"))
          .select(lit(name).as("fd"), col("n_keys"),
            col("n_violating"), col("max_rhs"))
      fd(Tables.nation(s, d), "nation_to_region",
          "n_nationkey", "n_regionkey")
        .union(fd(Tables.events(s, d), "user_to_event_type",
          "user_id", "event_type"))
        .union(fd(Tables.lineitem(s, d), "order_to_supplier",
          "l_orderkey", "l_suppkey"))
    },
      // dq10: same distinct-pair collapse per FD arm.
      """WITH f1 AS (SELECT count(*) AS n_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nv) AS BIGINT) AS max_rhs
        |  FROM (SELECT k, count(*) AS nv FROM (
        |    SELECT DISTINCT n_nationkey AS k, n_regionkey AS v
        |    FROM nation) GROUP BY 1)),
        |f2 AS (SELECT count(*) AS n_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nv) AS BIGINT) AS max_rhs
        |  FROM (SELECT k, count(*) AS nv FROM (
        |    SELECT DISTINCT user_id AS k, event_type AS v
        |    FROM events) GROUP BY 1)),
        |f3 AS (SELECT count(*) AS n_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nv) AS BIGINT) AS max_rhs
        |  FROM (SELECT k, count(*) AS nv FROM (
        |    SELECT DISTINCT l_orderkey AS k, l_suppkey AS v
        |    FROM lineitem) GROUP BY 1))
        |SELECT 'nation_to_region' AS fd, n_keys, n_violating, max_rhs
        |  FROM f1
        |UNION ALL SELECT 'user_to_event_type', n_keys, n_violating,
        |  max_rhs FROM f2
        |UNION ALL SELECT 'order_to_supplier', n_keys, n_violating,
        |  max_rhs FROM f3""".stripMargin),

    // Sequence-gap detection — the offset/audit-log integrity check
    // ("which ids went missing"): the event_id stream is
    // deterministically thinned ~1% (seeded hash, so the gaps exist
    // and are identical on both engines), then lag passes over the
    // ordered distinct ids emit each missing RANGE as (start, end,
    // n_missing) — O(gaps) output rows, never an anti-join against a
    // generated full sequence (which would materialize max(id) rows).
    //
    // SCALE: no global window. Ids are range-bucketed by
    // `event_id div B` (B = 2^16), lag runs per-bucket
    // (Window.partitionBy(bucket)) so each sort is a bounded <=B-row
    // partition, and the cross-bucket seams are bridged by a second
    // lag over the per-bucket (min,max) summary — O(n/B) rows, a few
    // MB even at 10^12 ids. Every globally-adjacent id pair is either
    // same-bucket (first pass) or last-of-bucket/first-of-next-
    // non-empty-bucket (seam pass); empty buckets collapse naturally
    // because summaries exist only for non-empty buckets.
    // PlanAuditSpec pins the events-scan window as partitioned.
    Query("dq11_sequence_gaps", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 65536L
      val ids = Tables.events(s, d).select(col("event_id")).distinct()
        .filter(graft.operators.TextOps.md5Prefix60(
          concat(lit("gap:"), col("event_id").cast("string"))) % 97
          =!= 0)
        .withColumn("bucket", floor(col("event_id") / B))
      val wIn = Window.partitionBy("bucket").orderBy("event_id")
      val inner = ids
        .withColumn("prev", lag(col("event_id"), 1).over(wIn))
        .filter(col("prev").isNotNull &&
          col("event_id") - col("prev") > 1)
        .select((col("prev") + 1).as("gap_start"),
          (col("event_id") - 1).as("gap_end"))
      val wSeam = Window.orderBy("bucket") // O(n/B) summary rows only
      val seams = ids.groupBy("bucket")
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
        .withColumn("prev_hi", lag(col("hi"), 1).over(wSeam))
        .filter(col("prev_hi").isNotNull && col("lo") - col("prev_hi") > 1)
        .select((col("prev_hi") + 1).as("gap_start"),
          (col("lo") - 1).as("gap_end"))
      inner.unionByName(seams)
        .select(col("gap_start"), col("gap_end"),
          (col("gap_end") - col("gap_start") + 1).as("n_missing"))
    },
      // dq11: same seeded thinning + lag ranges.
      """WITH ids AS (SELECT DISTINCT event_id FROM events
        |  WHERE CAST(concat('0x', substr(md5(concat('gap:',
        |    CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) % 97 <> 0),
        |l AS (SELECT event_id,
        |    lag(event_id) OVER (ORDER BY event_id) AS prev FROM ids)
        |SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
        |  event_id - prev - 1 AS n_missing
        |FROM l WHERE prev IS NOT NULL AND event_id - prev > 1"""
        .stripMargin),

    // Expectation-suite validation (the declarative data-contract
    // gate): each rule is a row predicate checked in a SINGLE
    // conditional-aggregate scan of its table — five rules cost two
    // table scans plus one key join (the cross-table rule), not five
    // passes — and the report is one row per rule with checked/violated
    // counts and the rate. NULL counts as a violation (a NULL passing a
    // range check silently is the classic contract hole): the
    // when(cond, 0).otherwise(1) form routes NULL-valued predicates to
    // the violation branch on both engines. At 100 TB the violation
    // report stays O(rules) rows off O(1) extra memory per scan.
    Query("dq9_expectations", (s, d) => {
      def viol(cond: Column): Column =
        sum(when(cond, 0L).otherwise(1L))
      val li = Tables.lineitem(s, d)
      val liAgg = li.agg(
        count(lit(1)).as("n_li"),
        viol(col("l_quantity") >= 1 && col("l_quantity") <= 50)
          .as("v_qty"),
        viol(col("l_discount") >= 0 && col("l_discount") <= 0.5)
          .as("v_disc"),
        viol(col("l_extendedprice") > 0).as("v_price"))
      val ordAgg = Tables.orders(s, d).agg(
        count(lit(1)).as("n_ord"),
        viol(col("o_totalprice") > 0).as("v_total"))
      val jAgg = li.select(col("l_orderkey"),
          col("l_shipdate").cast("date").as("ship"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate")),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_j"),
          viol(col("ship") >= col("odate")).as("v_dates"))
      def rule(src: DataFrame, name: String, n: String, v: String) =
        src.select(lit(name).as("rule"), col(n).as("n_checked"),
          col(v).as("n_violations"),
          round(col(v).cast("double") / col(n).cast("double"), 6)
            .as("violation_rate"))
      rule(liAgg, "li_quantity_in_1_50", "n_li", "v_qty")
        .union(rule(liAgg, "li_discount_in_0_50pct", "n_li", "v_disc"))
        .union(rule(liAgg, "li_price_positive", "n_li", "v_price"))
        .union(rule(ordAgg, "o_totalprice_positive", "n_ord", "v_total"))
        .union(rule(jAgg, "ship_after_order", "n_j", "v_dates"))
    },
      // dq9: same null-to-violation CASE routing; each arm reads its
      // 1-row aggregate CTE.
      """WITH la AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.5
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_extendedprice > 0
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_price
        |  FROM lineitem),
        |oa AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_totalprice > 0
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_total
        |  FROM orders),
        |ja AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= o_orderdate::DATE
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_dates
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT 'li_quantity_in_1_50' AS rule, n AS n_checked,
        |  v_qty AS n_violations,
        |  round(CAST(v_qty AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS violation_rate FROM la
        |UNION ALL SELECT 'li_discount_in_0_50pct', n, v_disc,
        |  round(CAST(v_disc AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM la
        |UNION ALL SELECT 'li_price_positive', n, v_price,
        |  round(CAST(v_price AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM la
        |UNION ALL SELECT 'o_totalprice_positive', n, v_total,
        |  round(CAST(v_total AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM oa
        |UNION ALL SELECT 'ship_after_order', n, v_dates,
        |  round(CAST(v_dates AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM ja"""
        .stripMargin),

    Query("dq8_psi", (s, d) => {
      val cut = lit(QueriesRelational.CdcCutOld).cast("timestamp")
      val b = least(lit(9L),
        floor(col("o_totalprice") / 60000.0).cast("long"))
      val counts = Tables.orders(s, d)
        .select(b.as("bucket"), (col("o_orderdate") < cut).as("is_old"))
        .groupBy("bucket")
        .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
          sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
      val spine = s.range(10).select(col("id").as("bucket"))
      val g = spine.join(counts, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      val tot = g.agg(sum(col("n_old")).as("t_old"),
        sum(col("n_new")).as("t_new"))
      val po = (col("n_old") + 1).cast("double") /
        (col("t_old") + 10).cast("double")
      val pn = (col("n_new") + 1).cast("double") /
        (col("t_new") + 10).cast("double")
      g.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_old"), col("n_new"),
          round((pn - po) * log(pn / po), 6).as("psi_term"))
    },
      {
      val cut = s"TIMESTAMP '${QueriesRelational.CdcCutOld}'"
      s"""WITH c AS (SELECT least(9, CAST(floor(o_totalprice / 60000.0)
         |      AS BIGINT)) AS bucket,
         |    o_orderdate < $cut AS is_old
         |  FROM orders),
         |k AS (SELECT bucket,
         |    sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS n_old,
         |    sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS n_new
         |  FROM c GROUP BY 1),
         |g AS (SELECT sp.bucket, coalesce(k.n_old, 0) AS n_old,
         |    coalesce(k.n_new, 0) AS n_new
         |  FROM range(10) sp(bucket) LEFT JOIN k USING (bucket)),
         |t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM g)
         |SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
         |  CAST(n_new AS BIGINT) AS n_new,
         |  round((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 10 AS DOUBLE)
         |    - CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 10 AS DOUBLE))
         |    * ln((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 10 AS DOUBLE))
         |      / (CAST(n_old + 1 AS DOUBLE)
         |        / CAST(t_old + 10 AS DOUBLE))), 6) AS psi_term
         |FROM g, t""".stripMargin
    }),

    // Benford first-digit audit: the leading-digit distribution of
    // order totals vs Benford's law — the classic synthetic-data /
    // fraud / unit-mixup detector a profiling pass runs on every
    // monetary column. The digit is extracted from the STRING form of
    // the exact integer cents (substr of a cast — no log10/pow round
    // trip whose libm edge cases at exact powers of ten could disagree
    // across engines); the expectation log10(1+1/d) is evaluated as
    // ln-ratio identically on both sides. Shape: one 9-group hash agg
    // with map-side partials + a broadcast 1-row total — nothing here
    // changes at 100 TB. (This data is uniform-priced, so the deltas
    // are LARGE — which is the point: the audit flags it.)
    Query("dq7_benford", (s, d) => {
      val cents = floor(col("o_totalprice") * 100).cast("long")
      val dig = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(substring(cents.cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      dig.crossJoin(broadcast(dig.agg(sum(col("n")).as("tot"))))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("share"),
          round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
            log(lit(10.0)), 6).as("benford"))
    },
      // dq7: digit from the string form of exact integer cents; the
      // Benford expectation as the same ln-ratio expression
      """WITH g AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice
        |      * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS n
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |    AS benford
        |FROM g, t""".stripMargin
  ))

  /** Portable seeded 60-bit hash (mirrors TextOps.md5Prefix60). */
  private def h60(arg: String): String =
    s"CAST(concat('0x', substr(md5($arg), 1, 15)) AS BIGINT)"

  /** The sk2 relational KMV estimator as a scalar subquery over one
    * canonicalized column of `orders` — the oracle twin of the native
    * `kmv_estimate` buffers inside the single-pass profile (exact
    * under k distinct, kth-minimum estimator above).
    */
  private def kmvEst(input: String, where: String): String = {
    val k = ProfileOps.ProfileK
    s"""(WITH hh AS (SELECT DISTINCT ${h60(s"concat('kmv:', $input)")} AS h
       |        FROM orders WHERE ($input) IS NOT NULL AND $where),
       |  kk AS (SELECT h FROM hh ORDER BY h LIMIT $k)
       |  SELECT round(CASE WHEN count(*) < $k
       |      THEN CAST(count(*) AS DOUBLE)
       |      ELSE ${k - 1}.0 * 1152921504606846976.0
       |        / CAST(max(h) AS DOUBLE) END, 2) FROM kk)""".stripMargin
  }

  private def profileArm(name: String, hashInput: String,
      range: Option[String], where: String = "TRUE"): String = {
    val (mn, mx) = range match {
      case Some(c) => (s"round(min(CAST($c AS DOUBLE)), 6)",
        s"round(max(CAST($c AS DOUBLE)), 6)")
      case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
    }
    s"""SELECT '$name' AS col_name, count(*) AS n,
       |  CAST(sum(CASE WHEN ($hashInput) IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_null,
       |  ${kmvEst(hashInput, where)} AS distinct_est,
       |  $mn AS min_v, $mx AS max_v
       |FROM orders WHERE $where""".stripMargin
  }

  /** The 5 dq1 arms with an optional snapshot filter. */
  private def profileArms(where: String): String = Seq(
    profileArm("o_orderkey", "CAST(o_orderkey AS VARCHAR)",
      Some("o_orderkey"), where),
    profileArm("o_custkey", "CAST(o_custkey AS VARCHAR)",
      Some("o_custkey"), where),
    profileArm("o_totalprice",
      "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
      Some("o_totalprice"), where),
    profileArm("o_orderstatus", "o_orderstatus", None, where),
    profileArm("o_orderpriority", "o_orderpriority", None, where)
  ).mkString("\nUNION ALL\n")

}
