package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

class GraphOpsSpec extends SparkTestBase {

  test("coOccurrenceWeights counts shared keys and caps hot keys") {
    import spark.implicits._
    val pairs = Seq(
      // key k1: members 1,2 (plus a duplicate row that must not double-count)
      ("k1", 1L), ("k1", 2L), ("k1", 2L),
      // key k2: members 1,2,3
      ("k2", 1L), ("k2", 2L), ("k2", 3L)
    ).toDF("k", "m")
    val w = GraphOps.coOccurrenceWeights(pairs, "k", "m", maxMembersPerKey = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,2) share k1+k2 -> 2; (1,3) and (2,3) share only k2 -> 1
    assert(w == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))

    // hot key 1..5 with cap 3 keeps smallest ids 1,2,3 -> C(3,2)=3 pairs
    val hot = (1L to 5L).map(("h", _)).toDF("k", "m")
    val cappedDf = GraphOps.coOccurrenceWeights(hot, "k", "m", maxMembersPerKey = 3)
    val capped = cappedDf.select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // plan-pin the cap at operator level (d10's composed plan hides it
    // below the triangle stage's lineage cuts, so PlanAuditSpec can't)
    assert(cappedDf.queryExecution.optimizedPlan.toString.contains("slice("),
      "coOccurrenceWeights must cap the member list before pair expansion")
  }

  test("topKNeighborGraph keeps an edge only if some endpoint ranks it") {
    import spark.implicits._
    // A=1,B=2,C=3,D=4. A-B weight 1; A,B each have stronger edges to C,D.
    val w = Seq(
      (1L, 2L, 1L),
      (1L, 3L, 10L), (1L, 4L, 9L),
      (2L, 3L, 10L), (2L, 4L, 9L)
    ).toDF("a", "b", "w")
    val edges = GraphOps.topKNeighborGraph(w, k = 2)
      .as[(Long, Long)].collect().toSet
    // k=2: A keeps {C,D}, B keeps {C,D}; C and D keep both their neighbors.
    // A-B is ranked by NEITHER endpoint -> dropped.
    assert(edges == Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
  }

  test("triangleCounts on K4, a pendant edge, and a triangle-free path") {
    import spark.implicits._
    // K4 on nodes 1..4 (4 triangles, each node in 3) plus pendant 4-5.
    val k4 = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)) :+ ((4L, 5L))
    val counts = GraphOps.triangleCounts(k4.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangle incidences = 3 * #triangles = 12
    assert(counts.values.sum == 12L)

    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.triangleCounts(path).count() == 0L)
  }

  test("triangleCounts is exact on a skewed hub (wheel graph)") {
    import spark.implicits._
    // Wheel W_60: hub 0 connected to every rim node 1..60, rim a cycle.
    // Every rim edge closes exactly one triangle with the hub: 60
    // triangles; hub sits in all 60, each rim node in its 2 adjacent.
    // This is the shape the (degree, id) orientation exists for — all
    // hub edges point hub→rim (hub has max degree), so the hub
    // contributes NO 2-path fan-out despite touching every triangle.
    val n = 60L
    val spokes = (1L to n).map((0L, _))
    val rim = (1L to n).map(i => (i, if (i == n) 1L else i + 1))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val counts = GraphOps.triangleCounts((spokes ++ rim).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(0L) == n, s"hub must be in all $n triangles")
    assert((1L to n).forall(counts(_) == 2L),
      "each rim node is in exactly its 2 adjacent triangles")
    assert(counts.values.sum == 3 * n, "3 incidences per triangle")
  }

  test("kCore peels cascades to the unique fixpoint") {
    import spark.implicits._
    // K4 on 1..4 plus a chain 4-5-6-7: peeling k=3 removes 5,6,7 in one
    // round (degrees 2,2,1), leaving exactly the K4 with degrees 3.
    val k4chain = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val core = GraphOps.kCore(k4chain, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=2 cascades down the chain: 7 peels, exposing 6, exposing 5 —
    // three dependent rounds to the 2-core (the K4)
    val core2 = GraphOps.kCore(k4chain, k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L))
    // k above the max degree peels everything away
    assert(GraphOps.kCore(k4chain, k = 5).count() == 0L)
    // the same cascade must NOT converge in one round: fail loudly,
    // never return a partial peel
    val ex = intercept[IllegalArgumentException] {
      GraphOps.kCore(k4chain, k = 2, maxRounds = 1).count()
    }
    assert(ex.getMessage.contains("did not converge"))
    // the exact bound: maxRounds counts peels, and the cascade takes 3
    assert(GraphOps.kCore(k4chain, k = 2, maxRounds = 3)
      .collect().map(_.getLong(0)).toSet == core2)
    val atBound = intercept[IllegalArgumentException] {
      GraphOps.kCore(k4chain, k = 2, maxRounds = 2).count()
    }
    assert(atBound.getMessage.contains("did not converge"))
  }

  test("labelPropagation: two triangles with a bridge, hand-unrolled") {
    import spark.implicits._
    // {1,2,3} triangle, {4,5,6} triangle, bridge 3-4.
    // Round 1 (every neighbor label counts once -> min neighbor id):
    //   1->2, 2->1, 3->1, 4->3, 5->4, 6->4
    // Round 2 (mode of round-1 neighbor labels, min tiebreak):
    //   1: nbrs {2,3} labels {1,1} -> 1;  2: {1,3}->{2,1} tie -> 1
    //   3: {1,2,4}->{2,1,3} tie -> 1;     4: {3,5,6}->{1,4,4} -> 4
    //   5: {4,6}->{3,4} tie -> 3;         6: {4,5}->{3,4} tie -> 3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("commonNeighborPairs: exact similarity + hub cap bounds fan-out") {
    import spark.implicits._
    // path a-c, b-c, a-d, b-d: a,b share neighbors {c,d}; deg(a)=deg(b)=2
    // -> common=2, jaccard = 2/(2+2-2) = 1.0; c,d share {a,b} likewise
    val e = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)).toDF("a", "b")
    val out = GraphOps.commonNeighborPairs(e, maxAdj = 16)
      .select("x", "y", "common", "nbr_jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 2L, 1.0), (3L, 4L, 2L, 1.0)))

    // star: hub 100 with 40 leaves — the cap must bound 2-path fan-out
    // to C(16,2) pairs over the 16 SMALLEST leaf ids (id-ordered cap),
    // no matter the hub's true degree
    val star = (1L to 40L).map(l => (l, 100L)).toDF("a", "b")
    val pairs = GraphOps.commonNeighborPairs(star, maxAdj = 16)
      .select("x", "y").as[(Long, Long)].collect()
    assert(pairs.length == 16 * 15 / 2,
      s"hub fan-out must cap at C(16,2), got ${pairs.length}")
    assert(pairs.forall { case (x, y) => x <= 16 && y <= 16 },
      "the cap must keep the id-ordered first 16 incident arcs")
  }

  test("bfsDistances: hop counts, horizon cut, multi-source min") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a disconnected pair {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("a", "b")
    def run(src: Seq[Long], rounds: Int): Map[Long, Long] =
      GraphOps.bfsDistances(edges, src.toDF("id"), rounds)
        .as[(Long, Long)].collect().toMap
    // single source, horizon 3: node 5 (dist 4) and the {10,11}
    // component are absent
    assert(run(Seq(1L), 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // edges are undirected: from the far end the path reverses
    assert(run(Seq(5L), 2) == Map(5L -> 0L, 4L -> 1L, 3L -> 2L))
    // multi-source: first discovery wins — 3 is 2 hops from either
    // seed, 2 and 4 are 1 hop from their nearer seed
    assert(run(Seq(1L, 5L), 4) ==
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("d26_bfs_hops runs on sf0.001: seeds at 0, dists within horizon") {
    val rows = SparkEntry.queries("d26_bfs_hops")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val byDist = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDist.getOrElse(0L, 0) == QueriesGraph.BfsSources,
      s"exactly the seed set at dist 0: $byDist")
    assert(rows.forall(_._2 <= QueriesGraph.BfsRounds),
      "no node past the horizon")
    // a node appears exactly once (first discovery is THE distance)
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("d10_triangles runs on sf0.001 with bounded shapes") {
    val out = SparkEntry.queries("d10_triangles")(spark, sf0001)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(out.columns.toSeq == Seq("suppkey", "n_triangles"))
    // counts sorted desc with id tiebreak (topKGlobal contract)
    val tri = rows.map(_.getLong(1))
    assert(tri.sameElements(tri.sortBy(-_)))
  }

  // Driver-side models of the iterative operators, for edge-shaped
  // inputs. Every pair is one undirected edge; a self-pair (a, a) is a
  // loop that lists a as its own neighbor twice, as the operators'
  // symmetrized edge lists do.
  private def arcs(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }

  private def modelKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] = {
    val deg = arcs(edges).groupBy(_._1)
      .map { case (n, xs) => n -> xs.size.toLong }
    val bad = deg.filter(_._2 < k).keySet
    if (bad.isEmpty) deg
    else modelKCore(edges.filterNot { case (a, b) => bad(a) || bad(b) }, k)
  }

  private def modelLabelPropagation(edges: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    val nbrs = arcs(edges).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2) }
    (1 to rounds).foldLeft(nbrs.map { case (u, _) => u -> u }) {
      (labels, _) => nbrs.map { case (u, vs) =>
        u -> vs.map(labels).groupBy(identity).toSeq
          .map { case (l, ls) => (-ls.size, l) }.min._2
      }
    }
  }

  private def modelBfs(edges: Seq[(Long, Long)], sources: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val nbrs = arcs(edges).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._2).toSet }
    (1 to rounds).foldLeft((sources.map(_ -> 0L).toMap, sources)) {
      case ((dist, frontier), r) =>
        val next = frontier.flatMap(nbrs.getOrElse(_, Set.empty[Long]))
          .diff(dist.keySet)
        (dist ++ next.map(_ -> r.toLong), next)
    }._1
  }

  test("iterative graph operators on edge-shaped inputs match a model") {
    import spark.implicits._
    val inputs = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "one edge" -> Seq((1L, 2L)),
      "self-pair" -> Seq((5L, 5L)))
    for ((name, edges) <- inputs) {
      val df = edges.toDF("a", "b")
      for (k <- 1 to 3) {
        val got = GraphOps.kCore(df, k)
          .as[(Long, Long)].collect().toMap
        assert(got == modelKCore(edges, k), s"kCore $name k=$k")
      }
      for (rounds <- 0 to 2) {
        val lp = GraphOps.labelPropagation(df, rounds)
          .as[(Long, Long)].collect().toMap
        assert(lp == modelLabelPropagation(edges, rounds),
          s"labelPropagation $name rounds=$rounds")
        for (src <- Seq(Set.empty[Long], Set(1L, 5L))) {
          val bfs = GraphOps.bfsDistances(df, src.toSeq.toDF("id"), rounds)
            .as[(Long, Long)].collect().toMap
          assert(bfs == modelBfs(edges, src, rounds),
            s"bfsDistances $name sources=$src rounds=$rounds")
        }
      }
    }
  }
}
