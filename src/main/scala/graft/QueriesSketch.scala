package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SketchOps
import graft.sources.Tables

/** Cardinality-sketch queries (north-star extension, SURVEY.md §2.10):
  * portable HyperLogLog and KMV distinct-count estimation over
  * `lineitem.l_orderkey` (the highest-cardinality key in the test data:
  * ~1.5k / 15k / 150k distinct at sf0.001 / 0.01 / 0.1, so the sketch
  * error behavior is visible across scales).
  *
  * Everything is integer-exact up to one final literal-only division
  * (see [[SketchOps]]), which is what makes a DuckDB hash oracle
  * possible for a randomized-looking data structure: the "randomness"
  * is the md5 hash both engines share.
  */
object QueriesSketch {

  lazy val registry: Seq[Query] = Seq(
    // Raw-HLL distinct estimate: register table -> single summary row
    // (m, v_present, fx_sum, estimate).
    Query("sk1_hll_distinct", (s, d) => {
      SketchOps.hllSummary(
        SketchOps.hllRegisters(Tables.lineitem(s, d), col("l_orderkey")))
    },
      s"""WITH h AS (SELECT ${h60(
           "concat('hll:', CAST(l_orderkey AS VARCHAR))")} AS h
         |           FROM lineitem),
         |b AS (SELECT h % 4096 AS bucket, h >> 12 AS w FROM h),
         |r AS (SELECT bucket,
         |        max(CASE WHEN w = 0 THEN 49
         |            ELSE 49 - length(bin(w)) END) AS rho
         |      FROM b GROUP BY bucket),
         |s AS (SELECT count(*) AS v_present,
         |        CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
         |          AS fx_present
         |      FROM r)
         |SELECT CAST(4096 AS BIGINT) AS m, v_present,
         |  fx_present + (4096 - v_present) * (CAST(1 AS BIGINT) << 50)
         |    AS fx_sum,
         |  round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |    * 1125899906842624.0
         |    / CAST(fx_present + (4096 - v_present)
         |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS estimate
         |FROM s""".stripMargin),

    // KMV distinct estimate: (k, k_used, kth_min, estimate) from the
    // 256 smallest distinct key hashes; exact-count fallback when the
    // input has fewer than k distinct hashes.
    Query("sk2_kmv_distinct", (s, d) => {
      SketchOps.kmvSummary(Tables.lineitem(s, d), col("l_orderkey"), 256)
    },
      s"""WITH h AS (SELECT DISTINCT ${h60(
           "concat('kmv:', CAST(l_orderkey AS VARCHAR))")} AS h
         |           FROM lineitem),
         |k AS (SELECT h FROM h ORDER BY h LIMIT 256)
         |SELECT CAST(256 AS BIGINT) AS k, count(*) AS k_used,
         |  max(h) AS kth_min,
         |  round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
         |    ELSE 255.0 * 1152921504606846976.0
         |      / CAST(max(h) AS DOUBLE) END, 2) AS estimate
         |FROM k""".stripMargin),

    // CountMin heavy hitters: top-20 event users by exact count, each
    // with its CMS frequency estimate alongside the truth (est ≥ exact
    // always — one-sided error, spec-pinned). The exact count exists to
    // VERIFY the sketch; a production pipeline reads the sketch alone.
    Query("sk3_cms_topk", (s, d) => {
      import graft.operators.RelationalOps
      val ev = Tables.events(s, d).select(col("user_id"))
      val sketch = SketchOps.cmsSketch(ev, col("user_id"), CmsDepth, CmsWidth)
      val est = SketchOps.cmsEstimate(sketch, ev.distinct(), col("user_id"),
        CmsDepth, CmsWidth).withColumnRenamed("key", "user_id")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      RelationalOps.topKGlobal(est.join(exact, "user_id"),
        Seq(col("exact_cnt").desc, col("user_id").asc), 20)
    },
      {
      val bucket = h60("concat('cms', CAST(i AS VARCHAR), ':', " +
        "CAST(user_id AS VARCHAR))") + " % 1024"
      s"""WITH ev AS (SELECT user_id FROM events),
         |ix AS (SELECT unnest([0, 1, 2, 3]) AS i),
         |hx AS (SELECT user_id, i, $bucket AS bucket
         |       FROM ev CROSS JOIN ix),
         |sk AS (SELECT i, bucket, count(*) AS cnt FROM hx GROUP BY 1, 2),
         |kh AS (SELECT user_id, i, $bucket AS bucket
         |       FROM (SELECT DISTINCT user_id FROM ev) CROSS JOIN ix),
         |est AS (SELECT user_id, min(cnt) AS est
         |        FROM kh JOIN sk USING (i, bucket) GROUP BY 1),
         |ex AS (SELECT user_id, count(*) AS exact_cnt FROM ev GROUP BY 1)
         |SELECT user_id, est, exact_cnt FROM est JOIN ex USING (user_id)
         |ORDER BY exact_cnt DESC, user_id LIMIT 20""".stripMargin
    }),

    // Bloom-filter join pruning: build a 256-word filter over the
    // BUILDING-segment customer keys, probe every order, and report the
    // pruning quality — orders scanned, bloom-positives, exact
    // semi-join truth, false positives. No false negative is possible
    // (spec-pinned); at scale the `might` predicate drops definite
    // non-members BEFORE the join shuffle, which is the entire point.
    Query("sk4_bloom_filter", (s, d) => {
      val seg = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bf = SketchOps.bloomBuild(seg, col("c_custkey"), BloomWords)
      val probed = SketchOps.bloomProbe(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        bf, col("o_custkey"), BloomWords)
      val truth = Tables.orders(s, d)
        .join(seg, col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_true"))
      probed.agg(count(lit(1)).as("n_orders"),
          sum(when(col("might"), 1L).otherwise(0L)).as("n_pass"))
        .crossJoin(broadcast(truth))
        .select(col("n_orders"), col("n_pass"), col("n_true"),
          (col("n_pass") - col("n_true")).as("n_false_pos"))
    },
      {
      def bh(seed: String, arg: String) =
        h60(s"concat('$seed:', CAST($arg AS VARCHAR))") + " % 16128"
      s"""WITH seg AS (SELECT c_custkey FROM customer
         |       WHERE c_mktsegment = 'BUILDING'),
         |hh AS (SELECT ${bh("bf1", "c_custkey")} AS h FROM seg
         |       UNION ALL
         |       SELECT ${bh("bf2", "c_custkey")} FROM seg),
         |bf AS (SELECT h // 63 AS word,
         |       bit_or(CAST(1 AS BIGINT) << CAST(h % 63 AS INT)) AS bits
         |       FROM hh GROUP BY 1),
         |pr AS (SELECT o_custkey, ${bh("bf1", "o_custkey")} AS h1,
         |       ${bh("bf2", "o_custkey")} AS h2 FROM orders),
         |j AS (SELECT CASE WHEN f1.bits IS NOT NULL
         |         AND ((f1.bits >> CAST(p.h1 % 63 AS INT)) & 1) = 1
         |         AND f2.bits IS NOT NULL
         |         AND ((f2.bits >> CAST(p.h2 % 63 AS INT)) & 1) = 1
         |       THEN 1 ELSE 0 END AS might
         |       FROM pr p LEFT JOIN bf f1 ON f1.word = p.h1 // 63
         |                 LEFT JOIN bf f2 ON f2.word = p.h2 // 63),
         |agg AS (SELECT count(*) AS n_orders,
         |        CAST(sum(might) AS BIGINT) AS n_pass FROM j),
         |t AS (SELECT count(*) AS n_true FROM orders
         |      WHERE o_custkey IN (SELECT c_custkey FROM seg))
         |SELECT n_orders, n_pass, n_true, n_pass - n_true AS n_false_pos
         |FROM agg CROSS JOIN t""".stripMargin
    }),

    // The Bloom filter doing its actual job: a bloom-PRUNED semi-join
    // whose result is the true join result (oracle = the plain join —
    // correctness is independent of the false-positive rate because the
    // real semi-join re-checks survivors; the bloom only shrinks what
    // reaches it). At 100 TB this is sideways-information-passing by
    // hand: the fact side drops definite non-members BEFORE the join
    // shuffle via a broadcast bit-table probe, so shuffle volume scales
    // with the filter's selectivity, not the fact table. sk4 measures
    // the filter's FP accounting; sk10 proves the pruned plan's output
    // is exactly the unpruned plan's.
    Query("sk10_bloom_prune_join", (s, d) => {
      val seg = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bf = SketchOps.bloomBuild(seg, col("c_custkey"), BloomWords)
      val pruned = SketchOps.bloomProbe(
          Tables.orders(s, d).select(col("o_custkey"),
            col("o_orderpriority"), col("o_totalprice")),
          bf, col("o_custkey"), BloomWords)
        .filter(col("might")).drop("might")
      pruned
        .join(seg, pruned("o_custkey") === seg("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .cast("double") / lit(100.0), 2).as("revenue"))
    },
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    AS DOUBLE) / 100.0, 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1""".stripMargin),

    // Portable quantile sketch: price quartiles + p95 estimated from a
    // bottom-256-by-hash uniform row sample — deterministic where
    // t-digest/KLL are engine-specific, so the estimates themselves
    // hash-match the oracle.
    Query("sk5_quantile_sketch", (s, d) => {
      SketchOps.quantileSketch(Tables.lineitem(s, d),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")),
        col("l_extendedprice"), 256, Seq(0.25, 0.5, 0.75, 0.95))
    },
      sk5Sql),

    // HLL set algebra — sk8's KMV union/intersection discipline on the
    // HLL side: cohort register tables merge by elementwise max (the
    // mv4 losslessness law) for the union estimate, and the
    // intersection follows by inclusion–exclusion (est_A + est_B −
    // est_U) — the standard HLL workaround for its lack of a native
    // intersection, with the exact intersection alongside as the
    // truth witness. After the two register aggregations everything
    // runs on O(m)-row register tables and 1-row broadcasts.
    Query("sk13_hll_setops", (s, d) => {
      val li = Tables.lineitem(s, d)
      def keys(flag: String) = li.filter(col("l_returnflag") === flag)
        .select(col("l_orderkey"))
      val rA = SketchOps.hllRegisters(keys("R"), col("l_orderkey"))
      val rB = SketchOps.hllRegisters(keys("N"), col("l_orderkey"))
      val rU = rA.union(rB).groupBy("bucket")
        .agg(max(col("rho")).as("rho"))
      def est(r: DataFrame, nm: String) =
        SketchOps.hllSummary(r).select(col("estimate").as(nm))
      val exact = keys("R").distinct()
        .join(keys("N").distinct(), Seq("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("exact_inter"))
      est(rA, "est_a").crossJoin(broadcast(est(rB, "est_b")))
        .crossJoin(broadcast(est(rU, "est_union")))
        .crossJoin(broadcast(exact))
        .select(col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 2)
            .as("est_inter"),
          col("exact_inter"))
    },
      // sk13: per-cohort register chains + max-merged union registers +
      // the identical literal estimator; inclusion–exclusion at 2dp.
      s"""WITH ${hllRegSql("A", "l_returnflag = 'R'")},
         |${hllRegSql("B", "l_returnflag = 'N'")},
         |rU AS (SELECT bucket, max(rho) AS rho FROM (
         |    SELECT * FROM rA UNION ALL SELECT * FROM rB)
         |  GROUP BY 1),
         |${hllEstSql("A", "rA")},
         |${hllEstSql("B", "rB")},
         |${hllEstSql("U", "rU")},
         |ex AS (SELECT count(*) AS exact_inter FROM
         |  (SELECT DISTINCT l_orderkey FROM lineitem
         |    WHERE l_returnflag = 'R') a
         |  JOIN (SELECT DISTINCT l_orderkey FROM lineitem
         |    WHERE l_returnflag = 'N') b USING (l_orderkey))
         |SELECT eA.est AS est_a, eB.est AS est_b, eU.est AS est_union,
         |  round(eA.est + eB.est - eU.est, 2) AS est_inter,
         |  ex.exact_inter
         |FROM eA, eB, eU, ex""".stripMargin),

    // Quantile-sketch accuracy gate — sk11's discipline applied to the
    // FOURTH sketch family (HLL/KMV gated by sk11, CMS by sk3's truth
    // witness, Bloom by sk4's accounting; the quantile sketch was the
    // one estimator with no measured error): each sk5 estimate's TRUE
    // rank among all prices is counted exactly, and the deviation from
    // its target quantile is reported in integer basis points
    // (|cnt·10⁴ − q·10⁴·n| div n — exact, no FP rank arithmetic). The
    // 4-row estimate frame broadcasts to one fact pass with map-side
    // partials; at 100 TB the gate costs one scan. (A 256-row uniform
    // sample's p50 lands within ~±300 bps w.h.p. — what this measures.)
    Query("sk12_quantile_error", (s, d) => {
      val est = SparkEntry.queries("sk5_quantile_sketch")(s, d)
      val li = Tables.lineitem(s, d).select(col("l_extendedprice")
        .as("v"))
      val n1 = li.agg(count(lit(1)).as("n"))
      li.crossJoin(broadcast(est))
        .groupBy("q", "est")
        .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L))
          .as("cnt"))
        .crossJoin(broadcast(n1))
        .withColumn("qb", round(col("q") * 10000, 0).cast("long"))
        .select(col("q"), col("est"), col("cnt"),
          expr("abs(cnt * 10000 - qb * n) div n").as("rank_err_bps"))
    },
      // sk12: sk5's statement nested verbatim as a subquery (one source
      // of truth), then the exact-rank count and integer-bps deviation.
      s"""WITH s AS (SELECT * FROM (
         |$sk5Sql
         |) t),
         |n1 AS (SELECT count(*) AS n FROM lineitem),
         |r AS (SELECT s.q, s.est,
         |    CAST(sum(CASE WHEN l_extendedprice <= s.est
         |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt
         |  FROM lineitem, s GROUP BY 1, 2)
         |SELECT q, est, cnt,
         |  abs(cnt * 10000 - CAST(round(q * 10000, 0) AS BIGINT) * n)
         |    // n AS rank_err_bps
         |FROM r, n1""".stripMargin),

    // The same HLL sketch as sk1 as a native TypedImperativeAggregate:
    // one 4 KB buffer per partition partial, merged by register max —
    // no register-table shuffle at all. The oracle is the RELATIONAL
    // form's estimator, so the custom aggregate is cross-checked against
    // both DuckDB and sk1 simultaneously.
    Query("sk6_hll_native_agg", (s, d) => {
      Tables.lineitem(s, d).agg(
        round(org.apache.spark.sql.graft.SketchAggregates.hllEstimate(
          concat(lit("hll:"), col("l_orderkey").cast("string"))), 2)
          .as("estimate"))
    },
      s"""WITH h AS (SELECT ${h60(
           "concat('hll:', CAST(l_orderkey AS VARCHAR))")} AS h
         |           FROM lineitem),
         |b AS (SELECT h % 4096 AS bucket, h >> 12 AS w FROM h),
         |r AS (SELECT bucket,
         |        max(CASE WHEN w = 0 THEN 49
         |            ELSE 49 - length(bin(w)) END) AS rho
         |      FROM b GROUP BY bucket),
         |s AS (SELECT count(*) AS v_present,
         |        CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
         |          AS fx_present
         |      FROM r)
         |SELECT round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |    * 1125899906842624.0
         |    / CAST(fx_present + (4096 - v_present)
         |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS estimate
         |FROM s""".stripMargin),

    // The native HLL aggregate in its production shape: GROUPED —
    // distinct users per event type, one 4 KB sketch buffer per (group,
    // partition) partial, merged by register max per group. This is
    // what per-segment cardinality dashboards run at 100 TB: a
    // count-distinct per group shuffles every (group, user) pair,
    // while the sketch shuffles a fixed buffer per group per partition
    // — ONE exchange of O(groups × 4 KB), plan-guarded. (Deliberately
    // no exact-count companion column in-query: mixing a distinct
    // aggregate back in would re-plan exactly the per-(group, user)
    // expand+shuffle the sketch exists to avoid; the oracle's exact
    // per-group computation is the accuracy witness instead.)
    Query("sk7_hll_grouped", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(round(org.apache.spark.sql.graft.SketchAggregates.hllEstimate(
            concat(lit("hll:"), col("user_id").cast("string"))), 2)
            .as("estimate"))
    },
      s"""WITH h AS (SELECT event_type, user_id, ${h60(
           "concat('hll:', CAST(user_id AS VARCHAR))")} AS h
         |           FROM events),
         |b AS (SELECT event_type, h % 4096 AS bucket, h >> 12 AS w
         |      FROM h),
         |r AS (SELECT event_type, bucket,
         |        max(CASE WHEN w = 0 THEN 49
         |            ELSE 49 - length(bin(w)) END) AS rho
         |      FROM b GROUP BY 1, 2),
         |s AS (SELECT event_type, count(*) AS v_present,
         |        CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
         |          AS fx_present
         |      FROM r GROUP BY 1)
         |SELECT event_type,
         |  round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |    * 1125899906842624.0
         |    / CAST(fx_present + (4096 - v_present)
         |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS estimate
         |FROM s""".stripMargin),

    // CMS self-join-size (F2) estimate: price the events-by-user
    // self-join from the sketch alone — min-over-depths inner product
    // of the counter table with itself, one-sided (est ≥ exact, the
    // truth column verifies; exact at sf≤0.01 where 8192 buckets see
    // no collisions, +18% at sf0.1). The wider-than-sk3 sketch is the
    // point: width trades memory for inner-product error at εN² scale.
    Query("sk9_f2_selfjoin", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"))
      val sk = SketchOps.cmsSketch(ev, col("user_id"), CmsDepth, F2Width)
      val est = SketchOps.cmsInnerProduct(sk, sk)
        .select(col("est").as("est_f2"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("exact_f2"))
      est.crossJoin(broadcast(exact))
    },
      {
      val bucket = h60("concat('cms', CAST(i AS VARCHAR), ':', " +
        "CAST(user_id AS VARCHAR))") + s" % $F2Width"
      s"""WITH ix AS (SELECT unnest([0, 1, 2, 3]) AS i),
         |hx AS (SELECT user_id, i, $bucket AS bucket
         |       FROM events CROSS JOIN ix),
         |sk AS (SELECT i, bucket, count(*) AS cnt FROM hx GROUP BY 1, 2),
         |ip AS (SELECT i, sum(cnt * cnt) AS ip FROM sk GROUP BY 1),
         |ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM (
         |       SELECT count(*) AS f FROM events GROUP BY user_id))
         |SELECT CAST((SELECT min(ip) FROM ip) AS BIGINT) AS est_f2,
         |  exact_f2
         |FROM ex""".stripMargin
    }),

    // KMV set algebra: union / Jaccard / intersection estimates between
    // two order cohorts (orders containing a returned 'R' line vs an 'N'
    // line — ~0.58 true Jaccard at every SF), with the exact counts
    // alongside as the accuracy witness (sk3/sk4 pattern: truth columns
    // VERIFY the sketch; production reads the sketch alone — the two
    // exact distincts here are what the sketch exists to avoid).
    Query("sk8_kmv_setops", (s, d) => {
      val li = Tables.lineitem(s, d)
      def cohort(flag: String) =
        li.filter(col("l_returnflag") === flag).select(col("l_orderkey"))
      val est = SketchOps.kmvSetOps(
        cohort("R"), col("l_orderkey"), cohort("N"), col("l_orderkey"),
        KmvSetK)
      // Exact truth in ONE pass (VERDICT r16 #6): per-orderkey flag
      // presence from a single groupBy, union/intersection as one
      // conditional aggregate on top — replacing the previous two
      // distincts + union-distinct + semi-join (three lineitem scans,
      // four exchanges) with one scan and one exchange.
      val exact = li
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_orderkey"), col("l_returnflag"))
        .groupBy("l_orderkey")
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("hasR"),
          max(when(col("l_returnflag") === "N", 1L).otherwise(0L))
            .as("hasN"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("hasR") === 1L && col("hasN") === 1L, 1L)
            .otherwise(0L)).as("exact_inter"))
      est.crossJoin(exact)
    },
      {
      val h = h60("concat('kmv:', CAST(l_orderkey AS VARCHAR))")
      val unionRaw = s"""CASE WHEN k_used < $KmvSetK
         |      THEN CAST(k_used AS DOUBLE)
         |      ELSE ${KmvSetK - 1}.0 * 1152921504606846976.0
         |        / CAST(kth_min AS DOUBLE) END""".stripMargin
      val jaccardRaw = "CAST(matches AS DOUBLE) / CAST(k_used AS DOUBLE)"
      s"""WITH sa AS (SELECT DISTINCT $h AS h FROM lineitem
         |            WHERE l_returnflag = 'R'
         |            ORDER BY h LIMIT $KmvSetK),
         |sb AS (SELECT DISTINCT $h AS h FROM lineitem
         |       WHERE l_returnflag = 'N'
         |       ORDER BY h LIMIT $KmvSetK),
         |su AS (SELECT DISTINCT h
         |       FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
         |       ORDER BY h LIMIT $KmvSetK),
         |st AS (SELECT count(*) AS k_used, max(h) AS kth_min,
         |         (SELECT count(*) FROM su
         |          WHERE h IN (SELECT h FROM sa)
         |            AND h IN (SELECT h FROM sb)) AS matches
         |       FROM su),
         |ex AS (SELECT count(DISTINCT l_orderkey) AS exact_union,
         |         count(DISTINCT CASE WHEN rr > 0 AND nn > 0
         |           THEN l_orderkey END) AS exact_inter
         |       FROM (SELECT l_orderkey,
         |               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
         |                   END) AS rr,
         |               sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0
         |                   END) AS nn
         |             FROM lineitem
         |             WHERE l_returnflag IN ('R', 'N')
         |             GROUP BY 1))
         |SELECT CAST($KmvSetK AS BIGINT) AS k, k_used, matches,
         |  round($unionRaw, 2) AS union_est,
         |  round($jaccardRaw, 6) AS jaccard_est,
         |  round($jaccardRaw * $unionRaw, 2) AS inter_est,
         |  exact_union, exact_inter
         |FROM st, ex""".stripMargin
    }
  ),

    // Sketch accuracy gate — the v8 pattern applied to the cardinality
    // sketches: exact distinct orderkeys beside the HLL and KMV
    // estimates with basis-point relative errors. sk1/sk2's own
    // oracles replicate the estimator math and stay green under ANY
    // precision change; this query (with SketchOpsSpec's floor)
    // catches an m/k retune that silently collapses accuracy. Three
    // 1-row aggregates cross-joined — no data movement beyond the
    // scans.
    Query("sk11_sketch_error", (s, d) => {
      val li = Tables.lineitem(s, d)
      val exact = li.agg(countDistinct(col("l_orderkey")).as("exact"))
      val hll = SketchOps.hllSummary(
          SketchOps.hllRegisters(li, col("l_orderkey")))
        .select(col("estimate").as("hll_est"))
      val kmv = SketchOps.kmvSummary(li, col("l_orderkey"), 256)
        .select(col("estimate").as("kmv_est"))
      def bps(est: Column) =
        floor(abs(est - col("exact").cast("double")) * lit(10000.0) /
          col("exact").cast("double")).cast("long")
      exact.crossJoin(hll).crossJoin(kmv)
        .select(col("exact"), col("hll_est"), col("kmv_est"),
          bps(col("hll_est")).as("hll_err_bps"),
          bps(col("kmv_est")).as("kmv_err_bps"))
    },
      // sk1's and sk2's estimator chains side by side with the exact
      // count; error math mirrors the Spark left-assoc shape exactly
      s"""WITH h AS (SELECT ${h60(
           "concat('hll:', CAST(l_orderkey AS VARCHAR))")} AS h
         |           FROM lineitem),
         |b AS (SELECT h % 4096 AS bucket, h >> 12 AS w FROM h),
         |r AS (SELECT bucket,
         |        max(CASE WHEN w = 0 THEN 49
         |            ELSE 49 - length(bin(w)) END) AS rho
         |      FROM b GROUP BY bucket),
         |s AS (SELECT count(*) AS v_present,
         |        CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
         |          AS fx_present
         |      FROM r),
         |he AS (SELECT round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0
         |    * 4096.0 * 1125899906842624.0
         |    / CAST(fx_present + (4096 - v_present)
         |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS hll_est
         |  FROM s),
         |kh AS (SELECT DISTINCT ${h60(
           "concat('kmv:', CAST(l_orderkey AS VARCHAR))")} AS h
         |           FROM lineitem),
         |kk AS (SELECT h FROM kh ORDER BY h LIMIT 256),
         |ke AS (SELECT round(CASE
         |    WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
         |    ELSE 255.0 * 1152921504606846976.0
         |      / CAST(max(h) AS DOUBLE) END, 2) AS kmv_est FROM kk),
         |ex AS (SELECT count(DISTINCT l_orderkey) AS exact
         |       FROM lineitem)
         |SELECT exact, hll_est, kmv_est,
         |  CAST(floor(abs(hll_est - CAST(exact AS DOUBLE)) * 10000.0
         |    / CAST(exact AS DOUBLE)) AS BIGINT) AS hll_err_bps,
         |  CAST(floor(abs(kmv_est - CAST(exact AS DOUBLE)) * 10000.0
         |    / CAST(exact AS DOUBLE)) AS BIGINT) AS kmv_err_bps
         |FROM ex, he, ke""".stripMargin),

    // Sketch-state materialized view: the MV maintained per group is
    // the HLL REGISTER TABLE itself (event_type × ≤4096 (bucket, rho)
    // rows), and a delta refresh is union + max(rho) — never a rescan
    // of history. This is the crown property of mergeable sketch state
    // at 100 TB: distinct-count MVs are otherwise UNMAINTAINABLE
    // incrementally (you cannot subtract or add a distinct count), but
    // register max is associative/idempotent, so merged(base, delta)
    // is EXACTLY the sketch of the full stream. The oracle proves that
    // losslessness: it computes the estimate from ONE pass over the
    // full data (no cutoff anywhere in its SQL) and the hash must
    // match the merged two-part build. MV state is O(groups · m);
    // refresh cost is O(delta) + a groups·m-sized merge.
    Query("mv4_sketch_mv", (s, d) => {
      import graft.operators.TextOps
      def registers(f: DataFrame => DataFrame): DataFrame = {
        val h = TextOps.md5Prefix60(
          concat(lit("hll:"), col("user_id").cast("string")))
        val w = shiftright(h, SketchOps.HllPrecision)
        val rho = when(w === 0, lit(49))
          .otherwise(lit(49) - length(bin(w)).cast("int"))
        f(Tables.events(s, d))
          .select(col("event_type"),
            (h % SketchOps.HllBuckets).as("bucket"), rho.as("rho"))
          .groupBy("event_type", "bucket").agg(max(col("rho")).as("rho"))
      }
      val cut = lit(MvSketchCut).cast("timestamp")
      val base = registers(_.filter(col("ts") < cut))
      val delta = registers(_.filter(col("ts") >= cut))
      val merged = base.unionByName(delta)
        .groupBy("event_type", "bucket").agg(max(col("rho")).as("rho"))
      val m = SketchOps.HllBuckets.toDouble
      val alphaM = 0.7213 / (1.0 + 1.079 / m)
      val fxScale = (1L << 50).toDouble
      merged.groupBy("event_type")
        .agg(count(lit(1)).as("v_present"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - rho)"))
            .as("fx_present"))
        .select(col("event_type"), col("v_present"),
          round(lit(alphaM) * lit(m) * lit(m) * lit(fxScale) /
            (col("fx_present") +
              (lit(SketchOps.HllBuckets.toLong) - col("v_present")) *
                lit(1L << 50)).cast("double"), 2).as("estimate"))
    },
      // mv4: ONE full-data pass, no cutoff anywhere — matching the
      // merged base+delta build proves register-max merge is lossless
      s"""WITH h AS (SELECT event_type, ${h60(
           "concat('hll:', CAST(user_id AS VARCHAR))")} AS h
         |           FROM events),
         |b AS (SELECT event_type, h % 4096 AS bucket, h >> 12 AS w
         |      FROM h),
         |r AS (SELECT event_type, bucket,
         |        max(CASE WHEN w = 0 THEN 49
         |            ELSE 49 - length(bin(w)) END) AS rho
         |      FROM b GROUP BY 1, 2),
         |s AS (SELECT event_type, count(*) AS v_present,
         |        CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
         |          AS fx_present
         |      FROM r GROUP BY 1)
         |SELECT event_type, v_present,
         |  round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |    * 1125899906842624.0
         |    / CAST(fx_present + (4096 - v_present)
         |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS estimate
         |FROM s""".stripMargin))

  /** mv4's refresh cutoff — mid-window of the 30-day event stream, so
    * base and delta both carry every group. The ORACLE never sees it:
    * full-data equality is the lossless-merge proof.
    */
  private val MvSketchCut = "2024-01-15 00:00:00"

  private val BloomWords = 256

  /** Bottom-k size for the sk8 set-operation sketches. */
  private val KmvSetK = 256

  /** sk9 sketch width: inner-product error scales with N²/width, so
    * the F2 sketch is wider than sk3's point-estimate sketch. */
  private val F2Width = 8192

  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Portable seeded 60-bit hash (mirrors TextOps.md5Prefix60 usage). */
  private def h60(arg: String): String =
    s"CAST(concat('0x', substr(md5($arg), 1, 15)) AS BIGINT)"

  /** One cohort's HLL register CTE pair for sk13 (hash → bucket/rho
    * registers), mirroring sk1's chain per source filter.
    */
  private def hllRegSql(nm: String, filter: String): String =
    s"""h$nm AS (SELECT ${h60(
         "concat('hll:', CAST(l_orderkey AS VARCHAR))")} AS h
       |      FROM lineitem WHERE $filter),
       |r$nm AS (SELECT h % 4096 AS bucket,
       |      max(CASE WHEN (h >> 12) = 0 THEN 49
       |          ELSE 49 - length(bin(h >> 12)) END) AS rho
       |      FROM h$nm GROUP BY 1)""".stripMargin

  /** sk1's estimator over a register CTE, as a 1-row estimate CTE. */
  private def hllEstSql(nm: String, reg: String): String =
    s"""e$nm AS (SELECT round(0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0
       |    * 4096.0 * 1125899906842624.0
       |    / CAST(fx_present + (4096 - v_present)
       |        * (CAST(1 AS BIGINT) << 50) AS DOUBLE), 2) AS est
       |  FROM (SELECT count(*) AS v_present,
       |    CAST(sum(CAST(1 AS BIGINT) << (50 - rho)) AS BIGINT)
       |      AS fx_present FROM $reg))""".stripMargin

  /** sk5's oracle statement, shared verbatim with sk12's gate. */
  private def sk5Sql: String =
    s"""WITH s AS (SELECT ${h60("concat('qs:', CAST(l_orderkey AS " +
         "VARCHAR), '-', CAST(l_linenumber AS VARCHAR))")} AS h,
       |        l_extendedprice AS v
       |      FROM lineitem ORDER BY h LIMIT 256),
       |r AS (SELECT v, row_number() OVER (ORDER BY v, h) AS r FROM s)
       |SELECT CAST(CASE r WHEN 64 THEN 0.25 WHEN 128 THEN 0.5
       |  WHEN 192 THEN 0.75 ELSE 0.95 END AS DOUBLE) AS q, v AS est
       |FROM r WHERE r IN (64, 128, 192, 244)""".stripMargin

}
