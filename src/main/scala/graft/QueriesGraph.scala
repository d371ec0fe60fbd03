package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps
import graft.sources.Tables

/** Graph-analytics queries (north-star extension): similarity-graph
  * construction from co-occurrence + triangle counting, complementing
  * the d7 connected-components / d9 PageRank pair (those run over the
  * near-dup pair graph; these BUILD a graph from a co-occurrence
  * relation first — the other half of production graph pipelines).
  */
object QueriesGraph {

  /** Per-part member-list cap before pair expansion (the candidate-
    * generator discipline: one hot part expands to ≤ C(cap,2) pairs).
    */
  private[graft] val MaxSuppliersPerPart = 32

  /** Neighbors kept per node in the similarity graph. Edge count ≤ k·n
    * at ANY co-occurrence density — an absolute weight threshold would
    * be data-tuned (mean shared-part count shifts ~10× between sf0.001
    * and sf0.1); "your 8 strongest neighbors" is scale-invariant.
    */
  private[graft] val NeighborsK = 8

  /** d11 substrate: customers co-purchasing the same part. Per-part
    * member cap (the generator discipline) and a minimum shared-part
    * count of 2 as the edge SEMANTIC ("repeat co-purchasers"), giving a
    * graph with real degree variance — unlike the co-supplier graph,
    * which is near-complete at every SF (TPC-H assigns suppliers to
    * parts uniformly), and unlike the top-k graph, whose min degree is
    * ≥ k by construction (all-or-nothing cores).
    */
  private[graft] val MaxCustomersPerPart = 16
  private[graft] val MinSharedParts = 2
  private[graft] val KCoreK = 4

  /** Peel-round bound: Spark fails loudly past it, and the SQL oracle
    * unrolls exactly this many rounds (rounds past convergence are
    * no-ops — the k-core is a unique fixpoint). Observed convergence:
    * ≤ 3 rounds at sf0.001–sf0.1.
    */
  private[graft] val PeelRounds = 8

  lazy val registry: Seq[Query] = Seq(
    // Co-supplier similarity graph over lineitem (suppliers weighted by
    // shared parts, per-part cap 32, top-8 neighbors per supplier),
    // then degree-oriented triangle counting: the 20 suppliers most
    // embedded in dense co-supply clusters. Three bounded fan-outs
    // (cap² pair expansion, k·n edges, O(m^1.5) oriented 2-paths) —
    // the shape that survives a 100 TB lineitem.
    Query("d10_triangles", (s, d) => {
      GraphOps.cooccurrenceTriangles(
        Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey",
        MaxSuppliersPerPart, NeighborsK, topK = 20)
        .select(col("id").cast("long").as("suppkey"), col("n_triangles"))
    },
      // The oracle CTEs are declared MATERIALIZED: DuckDB inlines each
      // CTE reference by default, and this pipeline references `cap`
      // twice, `o` three times, `tri` three times — inlining re-expands
      // the whole upstream chain per reference (measured: >9 min at
      // sf0.1 inlined, 0.9 s materialized). The exact SQL-side analogue
      // of the localCheckpoint lineage cuts in
      // [[graft.operators.GraphOps.triangleCounts]].
      s"""WITH ps AS MATERIALIZED (
         |     SELECT DISTINCT l_partkey AS p, l_suppkey AS m
         |     FROM lineitem),
         |cap AS MATERIALIZED (SELECT p, m FROM (
         |        SELECT p, m, row_number() OVER (PARTITION BY p
         |          ORDER BY m) AS rn FROM ps) WHERE rn <= $MaxSuppliersPerPart),
         |pw AS MATERIALIZED (SELECT a.m AS a, b.m AS b, count(*) AS w
         |       FROM cap a JOIN cap b ON a.p = b.p AND a.m < b.m
         |       GROUP BY 1, 2),
         |sym AS MATERIALIZED (SELECT a AS u, b AS v, w FROM pw
         |        UNION ALL SELECT b, a, w FROM pw),
         |knn AS MATERIALIZED (SELECT u, v FROM (
         |        SELECT u, v, row_number() OVER (PARTITION BY u
         |          ORDER BY w DESC, v) AS rn FROM sym)
         |        WHERE rn <= $NeighborsK),
         |edges AS MATERIALIZED (
         |          SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |          FROM knn),
         |deg AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
         |        SELECT a AS id FROM edges
         |        UNION ALL SELECT b FROM edges) GROUP BY 1),
         |ok AS MATERIALIZED (SELECT e.a, e.b,
         |       da.deg * 1000000000 + e.a AS oka,
         |       db.deg * 1000000000 + e.b AS okb
         |       FROM edges e JOIN deg da ON da.id = e.a
         |                    JOIN deg db ON db.id = e.b),
         |o AS MATERIALIZED (
         |      SELECT CASE WHEN oka < okb THEN a ELSE b END AS u,
         |             CASE WHEN oka < okb THEN b ELSE a END AS v,
         |             greatest(oka, okb) AS okv FROM ok),
         |tri AS MATERIALIZED (SELECT e1.u, e1.v AS v1, e2.v AS v2
         |        FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.okv < e2.okv
         |        JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
         |pn AS (SELECT id, count(*) AS n_triangles FROM (
         |       SELECT u AS id FROM tri
         |       UNION ALL SELECT v1 FROM tri
         |       UNION ALL SELECT v2 FROM tri) GROUP BY 1)
         |SELECT CAST(id AS BIGINT) AS suppkey, n_triangles FROM pn
         |ORDER BY n_triangles DESC, id LIMIT 20""".stripMargin),

    // k-core of the customer co-purchase graph (customers sharing ≥ 2
    // parts, per-part cap 16): iterative peeling to the unique maximal
    // subgraph of min-degree ≥ 4, reporting each survivor's within-core
    // degree. A `GraphOps.fixpoint` loop — one hash-agg + one probe +
    // two anti-joins per round, lineage cut per round.
    Query("d11_kcore", (s, d) => {
      GraphOps.kCore(coPurchaseEdges(s, d), KCoreK, PeelRounds)
        .select(col("id").cast("long").as("custkey"), col("core_deg"))
    },
      s"""WITH $coPurchaseCtes,
         |d0 AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
         |     SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         |${unrolledPeel(PeelRounds, KCoreK)}
         |SELECT CAST(id AS BIGINT) AS custkey, dg AS core_deg
         |FROM d$PeelRounds""".stripMargin,
      reads = Seq(coPurchaseEdges)),

    // Community detection over the SAME co-purchase graph: two rounds
    // of deterministic synchronous label propagation (most-frequent
    // neighbor label, count-desc/label-asc tiebreak). Communities and
    // cores answer different questions — d11 finds the dense nucleus,
    // d13 assigns EVERY node a community — and sharing the substrate
    // means the two queries differ only in the iteration, the shape a
    // real graph platform has (one edge table, many algorithms).
    Query("d13_labelprop", (s, d) => {
      GraphOps.labelPropagation(coPurchaseEdges(s, d), LpRounds)
        .select(col("id").cast("long").as("custkey"),
          col("lbl").cast("long").as("community"))
    },
      // Mirrors d13: identical substrate CTEs, LP rounds unrolled with
      // the same count-desc/label-asc argmax.
      s"""WITH $coPurchaseCtes,
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         |${unrolledLp(LpRounds)}
         |SELECT CAST(id AS BIGINT) AS custkey, CAST(lbl AS BIGINT)
         |  AS community FROM l$LpRounds""".stripMargin,
      reads = Seq(coPurchaseEdges)),

    // Structural node similarity over the SAME co-purchase substrate
    // (third consumer of the shared edge cache): the top-20 customer
    // pairs by common-neighbor count, each with its neighbor-set
    // Jaccard — the link-prediction / entity-matching primitive
    // ("customers whose purchase neighborhoods overlap" ≈ "accounts
    // that behave like one account"). 2-path fan-out is hub-capped at
    // [[MaxAdjPerHub]] incident arcs (C(cap,2) candidates per hub at
    // any degree); TRUE degrees feed the Jaccard denominator — see
    // GraphOps.commonNeighborPairs.
    Query("d19_common_neighbors", (s, d) => {
      graft.operators.RelationalOps.topKGlobal(
        GraphOps.commonNeighborPairs(coPurchaseEdges(s, d), MaxAdjPerHub),
        Seq(col("common").desc, col("x").asc, col("y").asc), 20)
        .select(col("x").cast("long").as("cust_a"),
          col("y").cast("long").as("cust_b"),
          col("common"), col("nbr_jaccard"))
    },
      // d19: identical substrate CTEs; the hub cap is the id-ordered
      // row_number ≤ MaxAdjPerHub, mirroring the Spark window exactly.
      s"""WITH $coPurchaseCtes,
         |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |dg AS MATERIALIZED (SELECT u AS id, count(*) AS deg
         |      FROM adj GROUP BY 1),
         |capadj AS MATERIALIZED (SELECT v, u FROM (
         |      SELECT v, u, row_number() OVER (PARTITION BY v
         |        ORDER BY u) AS rn FROM adj) WHERE rn <= $MaxAdjPerHub),
         |cn AS MATERIALIZED (SELECT s1.u AS x, s2.u AS y,
         |      count(*) AS common
         |      FROM capadj s1 JOIN capadj s2
         |        ON s1.v = s2.v AND s1.u < s2.u
         |      GROUP BY 1, 2)
         |SELECT CAST(x AS BIGINT) AS cust_a, CAST(y AS BIGINT) AS cust_b,
         |  common,
         |  round(common / CAST(dx.deg + dy.deg - common AS DOUBLE), 6)
         |    AS nbr_jaccard
         |FROM cn JOIN dg dx ON dx.id = x JOIN dg dy ON dy.id = y
         |ORDER BY common DESC, x, y LIMIT 20""".stripMargin,
      reads = Seq(coPurchaseEdges)),

    // Multi-source BFS hop distances over the SAME co-purchase
    // substrate (one edge table, many algorithms): "every customer
    // within 4 hops of the seed set, with the hop count" — the
    // influence-radius / blast-radius query a fraud or recommendation
    // platform runs from a suspect set. Seeds are the 5 smallest node
    // ids (deterministic); each of the 4 rounds moves O(frontier·deg)
    // KEYS through one equi-join + one anti-join (never payloads,
    // never all-pairs), each round lineage-cut — BFS is a fixed-round
    // fold over `GraphOps.cut` rounds, like d9 and d13. The oracle
    // is a depth-bounded recursive closure with min(dist): first
    // discovery in the engine IS min distance in the closure.
    Query("d26_bfs_hops", (s, d) => {
      val edges = coPurchaseEdges(s, d)
      val sources = edges
        .select(explode(array(col("a"), col("b"))).as("id")).distinct()
        .orderBy(col("id")).limit(BfsSources)
      GraphOps.bfsDistances(edges, sources, BfsRounds)
        .select(col("id").cast("long").as("custkey"), col("dist"))
    },
      // d26: the same substrate, then a depth-bounded recursive closure.
      // UNION (not ALL) dedups (id, dist) pairs per step, so the working
      // set is ≤ nodes·rounds — no path explosion — and min(dist) over
      // the closure is the BFS distance.
      s"""WITH RECURSIVE $coPurchaseCtes,
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |src AS MATERIALIZED (SELECT id FROM (
         |      SELECT DISTINCT u AS id FROM sym)
         |      ORDER BY id LIMIT $BfsSources),
         |bfs(id, dist) AS (
         |  SELECT id, 0 AS dist FROM src
         |  UNION
         |  SELECT s.v AS id, b.dist + 1 AS dist
         |  FROM bfs b JOIN sym s ON s.u = b.id
         |  WHERE b.dist < $BfsRounds)
         |SELECT CAST(id AS BIGINT) AS custkey,
         |  CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY id""".stripMargin
  ,
      reads = Seq(coPurchaseEdges)))

  /** d26's horizon and seed count (mirrored in the oracle). */
  private[graft] val BfsRounds = 4
  private[graft] val BfsSources = 5

  private[graft] val LpRounds = 2

  /** d19's per-hub incident-arc cap for 2-path generation. */
  private[graft] val MaxAdjPerHub = 16

  /** d11/d13's shared substrate: the customer co-purchase edge list
    * (customers sharing ≥ [[MinSharedParts]] parts, per-part member cap
    * [[MaxCustomersPerPart]]), PERSISTED — the docsWithTokens house
    * pattern: building the graph (join + capped pair expansion +
    * weight agg) dominates both consumers (~3 s of each query's ~3.2 s
    * at sf0.1), and CacheManager plan equality lets whichever of
    * d11/d13 runs second read the materialized edges instead of
    * re-deriving them. At 100 TB this is "build the edge table once →
    * checkpoint → run every graph algorithm against it".
    */
  private lazy val coPurchaseEdges = SharedFrame.persisted(
      "graph.copurchase_edges") { (s, d) =>
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cp = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_partkey"), col("o_custkey"))
    GraphOps.coOccurrenceWeights(cp, "l_partkey", "o_custkey",
        MaxCustomersPerPart)
      .filter(col("w") >= MinSharedParts).select(col("a"), col("b"))
  }

  /** The d11/d13 shared substrate CTEs (mirror [[coPurchaseEdges]]):
    * distinct co-purchase pairs → per-part cap → pair weights → edges.
    */
  private def coPurchaseCtes: String =
    s"""cp AS MATERIALIZED (
       |     SELECT DISTINCT l_partkey AS p, o_custkey AS m
       |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |cap AS MATERIALIZED (SELECT p, m FROM (
       |        SELECT p, m, row_number() OVER (PARTITION BY p
       |          ORDER BY m) AS rn FROM cp) WHERE rn <= $MaxCustomersPerPart),
       |pw AS MATERIALIZED (SELECT a.m AS a, b.m AS b, count(*) AS w
       |       FROM cap a JOIN cap b ON a.p = b.p AND a.m < b.m
       |       GROUP BY 1, 2),
       |e0 AS MATERIALIZED (SELECT a, b FROM pw WHERE w >= $MinSharedParts)"""
      .stripMargin

  /** One LP round i→i+1: count neighbor labels, argmax per node with
    * the count-desc/label-asc tiebreak.
    */
  private def unrolledLp(rounds: Int): String =
    (0 until rounds).map { i =>
      s"""v${i + 1} AS MATERIALIZED (SELECT s.u, l.lbl, count(*) AS n
         |     FROM sym s JOIN l$i l ON l.id = s.v GROUP BY 1, 2),
         |l${i + 1} AS MATERIALIZED (SELECT u AS id, lbl FROM (
         |     SELECT u, lbl, row_number() OVER (PARTITION BY u
         |       ORDER BY n DESC, lbl) AS rn FROM v${i + 1})
         |     WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** One peel round i→i+1: keep edges whose both endpoints had degree
    * ≥ k in round i, then recount degrees. Rounds past convergence
    * filter nothing — the fixpoint is reached and held, which is what
    * makes a FIXED unroll depth correct for any input that converges
    * within it (Spark's kCore enforces that bound loudly).
    */
  private def unrolledPeel(rounds: Int, k: Int): String =
    (0 until rounds).map { i =>
      s"""e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
         |     JOIN d$i da ON da.id = e.a JOIN d$i db ON db.id = e.b
         |     WHERE da.dg >= $k AND db.dg >= $k),
         |d${i + 1} AS MATERIALIZED (SELECT id, count(*) AS dg FROM (
         |     SELECT a AS id FROM e${i + 1}
         |     UNION ALL SELECT b FROM e${i + 1}) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
}
