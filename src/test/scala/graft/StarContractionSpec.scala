package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Star contraction's two contracts: (1) it computes EXACTLY the same
  * component labels as the min-label Pregel on arbitrary graphs, and
  * (2) it converges in O(log n) rounds on the long-chain topology
  * where min-label needs O(n) — the scale property it exists for.
  */
class StarContractionSpec extends SparkTestBase {

  private def labelsOf(pairs: Seq[(Long, Long)])
      : (Map[Long, Long], Map[Long, Long], Int) = {
    import spark.implicits._
    val df = pairs.toDF("id_a", "id_b")
    val (star, rounds) = DedupOps.starContraction(df, "id_a", "id_b")
    val pregel = DedupOps.connectedComponents(df, "id_a", "id_b")
    def toMap(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    (toMap(star), toMap(pregel), rounds)
  }

  test("small fixtures: parity with min-label, roots label themselves") {
    // two triangles bridged + an isolated pair + a self-loop-ish dup
    val pairs = Seq((2L, 1L), (3L, 2L), (1L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (20L, 20L))
    val (star, pregel, _) = labelsOf(pairs)
    assert(star === pregel)
    assert(star(1L) === 1L && star(5L) === 1L && star(11L) === 10L)
    assert(star(20L) === 20L) // self-pair: own singleton component
    // edge-shaped inputs: one round confirms each fixpoint
    for ((edges, expected) <- Seq(
        Seq.empty[(Long, Long)] -> Map.empty[Long, Long],
        Seq((1L, 2L)) -> Map(1L -> 1L, 2L -> 1L),
        Seq((5L, 5L)) -> Map(5L -> 5L))) {
      val (star, pregel, rounds) = labelsOf(edges)
      assert(star === expected && pregel === expected, s"pairs=$edges")
      assert(rounds === 1, s"pairs=$edges")
    }
  }

  test("randomized graphs: always identical to the min-label labels") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 40 + trial * 10
      val pairs = Seq.fill(n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (star, pregel, rounds) = labelsOf(pairs)
      assert(star === pregel, s"trial $trial diverged")
      assert(rounds <= 12, s"trial $trial took $rounds rounds")
    }
  }

  test("path of 2^k nodes: ~k rounds where min-label pays 2^k") {
    import spark.implicits._
    val k = 6
    val n = 1 << k // 64-node chain, diameter 63
    val df = (1L until n).map(i => (i + 1, i)).toDF("id_a", "id_b")
    // the min-label Pregel provably cannot finish this chain in 50
    // rounds — the exact failure mode star contraction exists for
    intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(df, "id_a", "id_b", maxIters = 50)
        .count()
    }
    val (starDf, rounds) = DedupOps.starContraction(df, "id_a", "id_b")
    val star = starDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.values.forall(_ == 1L), "one component rooted at 1")
    assert(star.size === n)
    // O(log n): generous 2k+2 bound vs the 2^k min-label needs
    assert(rounds <= 2 * k + 2,
      s"expected ~log2($n)=$k rounds, got $rounds")
    // the exact bound: `rounds` iterations suffice, one fewer fails
    assert(rounds >= 2)
    assert(DedupOps.starContraction(df, "id_a", "id_b",
      maxIters = rounds)._2 === rounds)
    val short = intercept[IllegalArgumentException] {
      DedupOps.starContraction(df, "id_a", "id_b", maxIters = rounds - 1)
    }
    assert(short.getMessage.contains("did not converge"))
  }

  test("registry d34 equals d7 on the real corpus") {
    val d7 = SparkEntry.queries("d7_dedup_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d34 = SparkEntry.queries("d34_star_contraction")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d34 === d7)
  }
}
