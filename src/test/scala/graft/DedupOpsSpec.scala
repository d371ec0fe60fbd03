package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}

class DedupOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")
    .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  test("shingles: windows, set semantics, short-doc guard") {
    val sh = Seq("a b c d").toDF("text")
      .select(DedupOps.shingles(TextOps.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()(0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(DedupOps.shingles(TextOps.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()(0)
    assert(short == Seq())
  }

  test("shingleHashes is value-equal to the composed shingles+hash60 spec") {
    val real = spark.read.parquet(s"$sf001/documents.parquet").limit(200)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val both = real.select(
      DedupOps.shingleHashes(col("toks"), 3).as("native"),
      transform(DedupOps.shingles(col("toks"), 3),
        s => DedupOps.hash60(lit("sh"), s)).as("spec"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (native, spec) => assert(native == spec) }
    // short-doc guard: fewer tokens than k yields an empty hash set
    val short = Seq("a b").toDF("text")
      .select(DedupOps.shingleHashes(
        TextOps.tokens(col("text")), 3).as("s"))
      .as[Seq[Long]].collect()(0)
    assert(short.isEmpty)
  }

  test("jaccardPairs over pre-hashed shingles matches the string path") {
    val strings = docs
      .select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh"))
    val hashed = docs
      .select(col("doc_id"), DedupOps.shingleHashes(col("toks"), 3).as("sh"))
    val a = DedupOps.jaccardPairs(strings, "doc_id", "sh", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val b = DedupOps.jaccardPairs(hashed, "doc_id", "sh", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("native minhash signature equals the exploded-aggregate spec") {
    val real = spark.read.parquet(s"$sf001/documents.parquet").limit(200)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val nativeSigs = DedupOps.minhashSigs(
      real.select(col("doc_id"),
        DedupOps.shingleHashes(col("toks"), 3).as("sh")),
      "doc_id", "sh", 16)
      .select(col("id"), col("sig").as("native"))
    val specSigs = DedupOps.minhashSigs(
      real.select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh")),
      "doc_id", "sh", 16)
      .select(col("id"), col("sig").as("spec"))
    val joined = nativeSigs.join(specSigs, "id", "full_outer")
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, n, s) =>
      assert(n == s, s"sig mismatch for doc $id") }
  }

  test("native simhash equals the explode-collect-fold spec") {
    val real = spark.read.parquet(s"$sf001/documents.parquet").limit(200)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val native = DedupOps.simhash(real, "doc_id", col("toks"))
      .as[(Long, Long)].collect().toMap
    val spec = DedupOps.simhashSpec(real, "doc_id", col("toks"))
      .as[(Long, Long)].collect().toMap
    assert(native.nonEmpty)
    assert(native == spec)
  }

  test("exactDedup elects min id and counts copies") {
    val out = DedupOps.exactDedup(
      docs, "doc_id", md5(concat_ws(" ", col("toks"))))
      .select("keeper", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("jaccardPairs finds the near-dup and exact-dup pairs") {
    val withSh = docs
      .select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh"))
    val out = DedupOps.jaccardPairs(withSh, "doc_id", "sh", 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // 1-4 identical (jac 1.0); 1-2 and 2-4 share 5 of 9 shingles
    assert(out.map(t => (t._1, t._2)) == Set((1L, 4L), (1L, 2L), (2L, 4L)))
    assert(out.find(t => t._1 == 1 && t._2 == 4).get._3 == 1.0)
  }

  test("minhash+LSH: identical docs always collide, distinct docs don't") {
    val withSh = docs
      .select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh"))
    val sigs = DedupOps.minhashSigs(withSh, "doc_id", "sh", 16)
    val pairs = DedupOps
      .lshCandidates(DedupOps.lshBands(sigs, "id", "sig", 4, 4))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical => identical signature
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // disjoint shingles
  }

  test("simhash: identical docs get identical fingerprints; pairs verify") {
    val sims = DedupOps.simhash(docs, "doc_id", col("toks"))
    val byId = sims.as[(Long, Long)].collect().toMap
    assert(byId(1L) == byId(4L))
    assert(byId(1L) != byId(3L))
    val pairs = DedupOps.simhashPairs(sims, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhashPairs guards incomplete banding and caps hot chunks") {
    val sims = DedupOps.simhash(docs, "doc_id", col("toks"))
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairs(sims, maxHamming = 4, chunks = 4)
    }
    // chunk-frequency cap 1: every shared chunk bucket is dropped => no pairs
    assert(DedupOps.simhashPairs(sims, maxHamming = 0,
      maxChunkFreq = 1L).count() == 0)
  }

  test("connectedComponents labels every node with its component min") {
    import spark.implicits._
    // a diameter-3 chain, a separate pair, and a triangle (cycle)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("id_a", "id_b")
    val out = graft.operators.DedupOps
      .connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // input order / edge direction must not matter
    val reversed = graft.operators.DedupOps
      .connectedComponents(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))
          .orderBy(col("id_a").desc), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(reversed == out)
    // empty pair list → empty labeling, and the loop still terminates
    val empty = graft.operators.DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
    assert(empty.count() == 0)
    // too-small iteration bound fails loudly, not silently
    val chain6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      graft.operators.DedupOps.connectedComponents(
        chain6, "id_a", "id_b", maxIters = 1)
    }
    // the exact bound: the fused init leaves node 6 four hops from
    // label 1, and the fifth round confirms the fixpoint
    val atBound = graft.operators.DedupOps.connectedComponents(
      chain6, "id_a", "id_b", maxIters = 5).as[(Long, Long)].collect()
    assert(atBound.toMap == (1L to 6L).map(_ -> 1L).toMap)
    val short = intercept[IllegalArgumentException] {
      graft.operators.DedupOps.connectedComponents(
        chain6, "id_a", "id_b", maxIters = 4)
    }
    assert(short.getMessage.contains("did not converge"))
  }

  test("connectedComponents survives a 200-node path graph (lineage cut)") {
    import spark.implicits._
    // Adversarial chain: diameter 199, so min-label propagation needs
    // ~199 rounds. Without the per-round localCheckpoint the rendered
    // plan grows 4x per round and OOMs the driver near round 9; with it
    // every round's plan is a constant-size join of two LogicalRDDs.
    // Edges shuffled so the result can't fall out of input order.
    val n = 200L
    val edges = scala.util.Random.shuffle(
      (1L until n).map(i => (i, i + 1)).toList).toDF("id_a", "id_b")
    val out = DedupOps.connectedComponents(edges, "id_a", "id_b",
      maxIters = 250)
      .as[(Long, Long)].collect().toMap
    assert(out == (1L to n).map(_ -> 1L).toMap)
  }

  test("graph iterators survive a 10k-edge high-degree hub (star)") {
    import spark.implicits._
    // Degree skew: hub 0 carries 10000 edges while every spoke has 1 —
    // the shape a near-dup graph takes when one boilerplate document
    // pairs with everything. One component of diameter 2: the per-round
    // join+agg moves O(|E|) rows and the label fixpoint lands in the
    // fused init round, so the hub costs volume, never rounds — the
    // degree-skew half of the 100 TB argument (the 200-node path test
    // above is the diameter half).
    val star = (1L to 10000L).map(i => (0L, i)).toDF("id_a", "id_b")
    val cc = DedupOps.connectedComponents(star, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(cc.length == 10001 && cc.forall(_._2 == 0L))
    // pageRank on the same star, 2 rounds — hand-computable because the
    // spokes are interchangeable: every round the hub receives each
    // spoke's full rank (deg 1) and each spoke receives rank div 10000.
    val pr = DedupOps.pageRank(star, "id_a", "id_b", iters = 2)
      .as[(Long, Long)].collect().toMap
    val hub1 = 150000L + 10000L * 1000000L * 17 / 20
    val spoke1 = 150000L + (1000000L / 10000L) * 17 / 20
    val hub2 = 150000L + 10000L * spoke1 * 17 / 20
    val spoke2 = 150000L + (hub1 / 10000L) * 17 / 20
    assert(pr(0L) == hub2, s"hub rank ${pr(0L)} != expected $hub2")
    assert((1L to 10000L).forall(i => pr(i) == spoke2),
      "all spokes must carry the identical rank")
  }

  test("pageRank: hand-computed micro-unit ranks on a 3-node path") {
    import spark.implicits._
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2. All start at 1e6.
    // round 1: in(1)=in(3)=r2/2=500000 -> r=150000+(500000*17)/20=575000
    //          in(2)=r1/1+r3/1=2000000 -> r=150000+1700000=1850000
    // round 2: in(1)=in(3)=1850000/2=925000 -> 150000+786250=936250
    //          in(2)=575000+575000=1150000 -> 150000+977500=1127500
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = DedupOps.pageRank(edges, "id_a", "id_b", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
    // rank mass check: total stays near N*1e6 (floor-div loss only)
    assert(got.values.sum <= 3000000L &&
      got.values.sum > 3000000L - 100L)
  }

  test("pageRank on edge-shaped inputs matches a model") {
    import spark.implicits._
    // driver-side integer PageRank over the symmetrized arcs (a
    // self-pair is a loop listed twice); `iters` = 0 is the initial frame
    def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val arcs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val deg = arcs.groupBy(_._1).map { case (n, xs) => n -> xs.size }
      (1 to iters).foldLeft(deg.map { case (n, _) => n -> 1000000L }) {
        (r, _) => deg.map { case (n, _) =>
          val in = arcs.collect { case (s, `n`) => r(s) / deg(s) }.sum
          n -> (150000L + in * 17 / 20)
        }
      }
    }
    for (edges <- Seq(Seq.empty[(Long, Long)], Seq((1L, 2L)), Seq((5L, 5L)));
         iters <- 0 to 2) {
      val pr = DedupOps.pageRank(edges.toDF("id_a", "id_b"), "id_a", "id_b",
        iters).as[(Long, Long)].collect().toMap
      assert(pr == ranks(edges, iters), s"pageRank $edges iters=$iters")
    }
  }

  test("shingleIndex drops shingles above the doc-frequency cap") {
    val withSh = docs
      .select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh"))
    // cap 1: every shared shingle is dropped => no candidate pairs at all
    assert(DedupOps.jaccardPairs(withSh, "doc_id", "sh", 0.0,
      maxDocFreq = 1L).count() == 0)
  }

  test("containmentPairs catches a short doc embedded in a long one") {
    // doc 1 = 10-token prefix of doc 2's 50 tokens: every one of doc
    // 1's 8 shingles is in doc 2 -> containment(1 in 2) = 1.0, but
    // jaccard = 8/48 = 0.167 — symmetric dedup never sees this pair
    val toks = (1 to 50).map(i => s"tok$i")
    val embedded = Seq(
      (1L, toks.take(10)), (2L, toks))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), DedupOps.shingles(col("toks"), 3).as("sh"))
    assert(DedupOps.jaccardPairs(embedded, "doc_id", "sh", 0.8)
      .count() == 0, "jaccard must NOT flag the embedded pair")
    val got = DedupOps.containmentPairs(embedded, "doc_id", "sh", 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0, 0.166667)),
      s"containment must flag it with the directions labeled: " +
        s"${got.toSeq}")
  }

  test("d12 novelty: exact duplicates score 0, invariants hold") {
    val out = SparkEntry.queries("d12_novelty")(spark, sf001).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (n, u) = (r.getLong(1), r.getLong(2))
      assert(u <= n, "unique shingles cannot exceed total shingles")
      if (n == 0) assert(r.isNullAt(3), "shingle-less docs get NULL")
      else {
        val nov = r.getDouble(3)
        assert(nov >= 0.0 && nov <= 1.0)
      }
    }
    // the corpus has verbatim duplicate docs (d1 finds multi-copy
    // groups); every shingle of such a doc also occurs in its twin, so
    // novelty must be exactly 0 for some docs and high for others
    assert(out.exists(r => r.getLong(1) > 0 && r.getDouble(3) == 0.0),
      "duplicated docs must score novelty 0")
    // the synthetic corpus shares a template vocabulary, so nothing
    // reaches ~1.0 — but the signal must still separate the population
    assert(out.exists(r => r.getLong(1) > 0 && r.getDouble(3) > 0.5),
      "distinctive docs must score majority-novel")
  }

  test("d15 canonical election: total, idempotent, quality-argmax") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d15_canonical")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    // total verdict: every document exactly once
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.length == nDocs)
    // canonicals are fixpoints: each maps to itself and is marked kept
    val canonOf = out.map(t => t._1 -> t._2).toMap
    out.foreach { case (id, c, kept) =>
      assert(canonOf(c) == c, s"canonical $c of $id must be a fixpoint")
      assert((kept == 1L) == (id == c))
    }
    // the elected member maximizes x3 quality (tiebreak: smaller id)
    val q = SparkEntry.queries("x3_quality_score")(spark, sf0001)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.groupBy(_._2).foreach { case (c, members) =>
      members.foreach { case (id, _, _) =>
        assert(q(c) > q(id) || (q(c) == q(id) && c <= id),
          s"canonical $c (q=${q(c)}) must dominate member $id (q=${q(id)})")
      }
    }
    // the sf0.001 corpus has planted near-dups: at least one real
    // cluster must exist (someone is dropped)
    assert(out.exists(_._3 == 0L), "no document was ever dropped")
  }

  test("prefixFilterPairs is lossless: equals the brute-force pair set") {
    // the prefix-filter theorem's claim, checked against an
    // independent driver-side brute force over every doc pair of a
    // real 150-doc corpus: at J >= 0.7 the bucket-pruned join must
    // find EXACTLY the true pair set (no cap in play at this size) —
    // the property that separates it from the df-cap (drops
    // stopword-only pairs) and LSH banding (probabilistic recall).
    val real = spark.read.parquet(s"$sf001/documents.parquet").limit(150)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        DedupOps.shingleHashes(col("toks"), 3).as("sh"))
    val got = DedupOps.prefixFilterPairs(real, "doc_id", "sh", 7, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sets = real.as[(Long, Seq[Long])].collect()
      .map { case (id, sh) => id -> sh.toSet }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      if inter * 17 >= (sa.size + sb.size) * 7
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture corpus must contain near-dups")
    assert(got == expected,
      s"prefix filter missed ${expected -- got} / extra ${got -- expected}")
  }
}
