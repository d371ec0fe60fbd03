package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

class VectorOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.0f)),
    (2L, Seq(1.0f, 1.0f, 0.0f)),
    (3L, Seq(2.0f, 0.0f, 0.0f)) // colinear with 0
  ).toDF("vec_id", "embedding")

  private lazy val prep = VectorOps.prepared(vecs, "vec_id", "embedding")

  test("dot and norm2 fold deterministically") {
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
      .as[Double].collect()(0)
    assert(d == 32.0)
  }

  test("native dot is bit-identical to the HOF fold on real embeddings") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(100)
    val both = VectorOps.prepared(emb, "vec_id", "embedding")
      .select(VectorOps.dot(col("v"), col("v")).as("native"),
        VectorOps.dotHof(col("v"), col("v")).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native dot fails fast on unequal lengths, nulls propagate") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorOps.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
    val withNull = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
      .collect()(0)
    assert(withNull.isNullAt(0))
  }

  test("native dot yields null on null ELEMENTS, matching the HOF fold") {
    val row = Seq((Seq(Option(1.0), None, Option(3.0)),
      Seq(Option(1.0), Option(2.0), Option(3.0))))
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("native"),
        VectorOps.dotHof(col("a"), col("b")).as("hof"))
      .collect()(0)
    assert(row.isNullAt(0), "native dot must not fold garbage over nulls")
    assert(row.isNullAt(1))
  }

  test("bruteForceTopK ranks by cosine with id tiebreak, excludes self") {
    val out = VectorOps.bruteForceTopK(prep, prep.filter(col("id") === 0), 3)
      .select("id_n", "cos", "rank").as[(Long, Double, Long)]
      .collect().sortBy(_._3)
    // neighbor order for probe 0: colinear 3 (cos 1), diagonal 2, orthogonal 1
    assert(out.map(_._1).toSeq == Seq(3L, 2L, 1L))
    assert(out(0)._2 == 1.0)
    assert(out(2)._2 == 0.0)
  }

  test("lshTopK buckets colinear vectors together") {
    val out = VectorOps.lshTopK(prep, prep.filter(col("id") === 0),
      bands = 4, rowsPerBand = 2, dim = 3, k = 3)
      .select("id_n").as[Long].collect().toSet
    // identical direction => identical sign bits in EVERY band, so a
    // colinear vector is a candidate with probability 1, any banding
    assert(out.contains(3L))
  }

  test("ivfTopK searches only routed cells and ranks exactly") {
    val centroids = prep.filter(col("id") < 2)
    val out = VectorOps.ivfTopK(prep, prep.filter(col("id") === 0),
      centroids, nProbe = 2, k = 3)
      .select("id_n", "cos", "rank").as[(Long, Double, Long)]
      .collect().sortBy(_._3)
    // cells: {0,2,3} -> centroid 0 (2 ties, id asc), {1} -> centroid 1;
    // probe 0 routes to both cells => neighbors 3 (cos 1), 2, 1
    assert(out.map(_._1).toSeq == Seq(3L, 2L, 1L))
    assert(out(0)._2 == 1.0)
    assert(out(2)._2 == 0.0)
  }

  test("routeToCentroids at k = 1 picks the nearest centroid by cosine") {
    val centroids = prep.filter(col("id") < 2)
    val out = VectorOps.routeToCentroids(prep, centroids, 1)(
        VectorOps.cosineDistance)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    assert(out(0L) == 0L)
    assert(out(1L) == 1L)
    assert(out(3L) == 0L) // colinear with centroid 0
  }

  test("routeToCentroids carries exact squared distances per rank") {
    val pts = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(9.0, 0.0)))
      .toDF("id", "v")
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0)))
      .toDF("cid", "c")
    val out = VectorOps.routeToCentroids(pts, cents, 2)(
        VectorOps.euclidDistance)
      .select("id", "rk", "cid", "dist")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 1L)) == ((0L, 1.0)))   // (1-0)² nearest
    assert(out((1L, 2L)) == ((1L, 81.0)))  // (1-10)² runner-up
    assert(out((2L, 1L)) == ((1L, 1.0)))
    assert(out((2L, 2L)) == ((0L, 81.0)))
  }

  test("searches and the router keep the rank contract on edge data") {
    type V = Seq[Double]
    // 4 is the all-zero vector; 0 and 3 are colinear; 1, 4 and 5 all
    // tie with probe 0 on dot. Cosine cases use the non-zero vectors: a
    // zero norm fails a cosine search with DIVIDE_BY_ZERO (ANSI mode).
    val all: Seq[(Long, Seq[Double])] = Seq(0L -> Seq(1.0, 0.0, 0.0),
      1L -> Seq(0.0, 1.0, 0.0), 2L -> Seq(1.0, 1.0, 0.0),
      3L -> Seq(2.0, 0.0, 0.0), 4L -> Seq(0.0, 0.0, 0.0),
      5L -> Seq(0.0, 0.0, 1.0))
    val nonZero = all.filter(_._1 != 4L)
    def frame(rows: Seq[(Long, V)]) = VectorOps.prepared(
      rows.map { case (i, v) => (i, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    def only(ids: Long*) = all.filter(r => ids.contains(r._1))

    // the driver-side model: the same left folds, the same rounding
    def dotD(a: V, b: V) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cosRaw(a: V, b: V) = dotD(a, b) / math.sqrt(dotD(a, a) * dotD(b, b))
    def cosine(a: V, b: V) = r6(cosRaw(a, b))
    def inner(a: V, b: V) = r6(dotD(a, b))
    def euclid(a: V, b: V) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    val (bands, rowsPerBand) = (4, 2)
    def buckets(v: V) = (0 until bands).map(b => (0 until rowsPerBand).map {
      j =>
        val plane = v.indices.map(i =>
          VectorOps.planeComponent(b * rowsPerBand + j, i))
        if (dotD(v, plane) >= 0) 1L << j else 0L
    }.sum)
    def shareBand(a: V, b: V) =
      buckets(a).zip(buckets(b)).exists { case (x, y) => x == y }
    // MIPS-LSH bands the norm-augmented vectors of the corpus at hand
    def augmentedShare(corpus: Seq[(Long, V)])(q: V, n: V) = {
      val m2 = corpus.map(r => dotD(r._2, r._2)).max
      shareBand(q :+ 0.0, n :+ math.sqrt(math.max(m2 - dotD(n, n), 0.0)))
    }
    // self pairs out, (score desc, id_n asc), top k, ranks from 1
    def ranked(probes: Seq[(Long, V)], corpus: Seq[(Long, V)], k: Int,
        score: (V, V) => Double,
        cand: (V, V) => Boolean = (_, _) => true) =
      probes.flatMap { case (q, vq) =>
        corpus.filter { case (n, vn) => n != q && cand(vq, vn) }
          .map { case (n, vn) => (n, score(vq, vn)) }
          .sortBy { case (n, sc) => (-sc, n) }.take(k).zipWithIndex
          .map { case ((n, sc), i) => (q, n, sc, i + 1L) }
      }
    def check(what: String, df: DataFrame, score: String,
        want: Seq[(Long, Long, Double, Long)]): Unit = {
      val got = df.select(col("id_q"), col("id_n"), col(score), col("rank"))
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(got.forall(r => r._1 != r._2), s"$what: self pair in $got")
      got.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._4).sorted == (1L to rs.size.toLong),
          s"$what: probe $q ranks ${rs.map(_._4)}")
      }
      assert(got.sortBy(r => (r._1, r._4)) == want.sortBy(r => (r._1, r._4)),
        s"$what: got $got, want $want")
    }
    import VectorOps.{Cosine, Dot}
    val lsh = VectorOps.lshTopK(_: DataFrame, _: DataFrame, bands,
      rowsPerBand, 3, _: Int, _: VectorOps.Score)

    // k larger than the number of candidates: every candidate, ranked
    val p0 = frame(only(0L))
    check("exact cos, k > n", VectorOps.bruteForceTopK(frame(nonZero), p0,
      10), "cos", ranked(only(0L), nonZero, 10, cosine))
    check("exact dot, k > n", VectorOps.bruteForceTopK(frame(all), p0, 10,
      Dot), "dot", ranked(only(0L), all, 10, inner))
    check("lsh cos, k > n", lsh(frame(nonZero), p0, 10, Cosine), "cos",
      ranked(only(0L), nonZero, 10, cosine, shareBand))
    check("lsh dot, k > n", lsh(frame(all), p0, 10, Dot), "dot",
      ranked(only(0L), all, 10, inner, augmentedShare(all)))
    // nProbe beyond the 2 cells: the IVF candidates are the whole corpus
    check("ivf, nProbe > cells, k > n", VectorOps.ivfTopK(frame(nonZero), p0,
      frame(only(0L, 1L)), nProbe = 5, k = 10), "cos",
      ranked(only(0L), nonZero, 10, cosine))

    // a corpus of one row: one neighbor for another probe, none for itself
    val one = only(3L)
    val p03 = frame(only(0L, 3L))
    check("exact cos, one row", VectorOps.bruteForceTopK(frame(one), p03, 5),
      "cos", ranked(only(0L, 3L), one, 5, cosine))
    check("exact dot, one row", VectorOps.bruteForceTopK(frame(one), p03, 5,
      Dot), "dot", ranked(only(0L, 3L), one, 5, inner))
    check("lsh cos, one row", lsh(frame(one), p03, 5, Cosine), "cos",
      ranked(only(0L, 3L), one, 5, cosine, shareBand))
    check("lsh dot, one row", lsh(frame(one), p03, 5, Dot), "dot",
      ranked(only(0L, 3L), one, 5, inner, augmentedShare(one)))

    // an all-zero probe: every dot ties at 0, so ids alone rank
    val p4 = frame(only(4L))
    check("exact dot, zero probe", VectorOps.bruteForceTopK(frame(all), p4,
      3, Dot), "dot", ranked(only(4L), all, 3, inner))
    check("lsh dot, zero probe", lsh(frame(all), p4, 10, Dot), "dot",
      ranked(only(4L), all, 10, inner, augmentedShare(all)))

    // router k larger than the number of centroids: every centroid,
    // ranked by (distance, id)
    def routed(df: DataFrame) = df.select("id", "cid", "rk", "dist")
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))
    def route(vs: Seq[(Long, V)], cents: Seq[(Long, V)], k: Int,
        dist: (V, V) => Double) = vs.flatMap { case (i, v) =>
      cents.map { case (c, cv) => (dist(v, cv), c) }.sortBy(identity)
        .take(k).zipWithIndex.map { case ((d, c), r) => (i, c, r + 1L, d) }
    }
    val cents = only(0L, 1L)
    val pts = all.toDF("id", "v")
    for (k <- Seq(1, 2, 5))
      assert(routed(VectorOps.routeToCentroids(pts, cents.toDF("cid", "c"),
        k)(VectorOps.euclidDistance)) == route(all, cents, k, euclid),
        s"euclid router, k = $k")
    assert(routed(VectorOps.routeToCentroids(frame(nonZero), frame(cents),
      5)(VectorOps.cosineDistance)) ==
      route(nonZero, cents, 5, (a, b) => -cosRaw(a, b)), "cosine router")
  }

  test("v20_silhouette: partition of the corpus, scores in [0,1]") {
    val rows = SparkEntry.queries("v20_silhouette")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty && rows.length <= 5, "at most K=5 clusters")
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(rows.map(_._2).sum == n,
      "every vector scores in exactly one cluster")
    // b >= a by construction (b is the runner-up distance), so the
    // per-cluster mean silhouette is bounded in [0, 1]
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0),
      s"sil out of range: ${rows.toSeq}")
  }

  test("centroidMeans is the exact per-dimension mean") {
    val assigned = Seq(
      (0L, Seq(1.0, 2.0), 7L), (1L, Seq(3.0, 4.0), 7L),
      (2L, Seq(10.0, 0.0), 8L))
      .toDF("id", "v", "cid")
    val cents = VectorOps.centroidMeans(assigned)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cents(7L) == Seq(2.0, 3.0)) // (1+3)/2, (2+4)/2 — exact
    assert(cents(8L) == Seq(10.0, 0.0)) // singleton cluster = itself
  }

  test("int8 quantization (v9): error bounded by half a step, zero-safe") {
    val out = SparkEntry.queries("v9_quantize_int8")(spark, sf0001)
      .as[(Long, Double, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, scale, qSum, err) =>
      assert(scale > 0, s"vec $id: testdata has no zero vectors")
      // round-half-up codes are within half a quantization step per
      // component: per-dim error <= (maxAbs/127)/2, squared and summed
      // over 64 dims => err <= 64 * (1/(2*scale))^2 (+ rounding slack)
      val bound = 64.0 * math.pow(1.0 / (2.0 * scale), 2) + 1e-6
      assert(err >= 0 && err <= bound,
        s"vec $id: recon_err $err exceeds half-step bound $bound")
      assert(math.abs(qSum) <= 64L * 127L)
    }
    // zero vector: scale 0, codes 0, error 0 — no 0/0 NaN divergence
    val z = Seq((99L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val qz = VectorOps.int8Quantized(
        VectorOps.prepared(z, "vec_id", "embedding"))
      .select("scale", "inv", "qs").as[(Double, Double, Seq[Long])]
      .collect()
    assert(qz.toSeq == Seq((0.0, 0.0, Seq.fill(4)(0L))))
  }

  test("ANN recall@10 stays above the tuned floor (v8 gate)") {
    // v8 counts, per probe and method, how many of the exact top-10
    // (v1) the approximate top-5 candidates hit — max 5. Measured at
    // the current tuning (6 bands × 2 bits; IVF 10 cells / nProbe 3):
    // 5.0/5 for BOTH methods at sf0.001 and sf0.01. The floor exists so
    // a retune of bands/rowsPerBand/nProbe that collapses recall fails
    // a spec instead of shipping: the single-bucket 8-plane formulation
    // this replaced measured 0–1 hits here — green on its own oracle
    // (which replicates the same math), useless as a search.
    val r = SparkEntry.queries("v8_ann_recall")(spark, sf0001)
      .groupBy("method").agg(avg(col("n_hits")).as("r"))
      .as[(String, Double)].collect().toMap
    assert(r.keySet == Set("lsh", "ivf"))
    assert(r("lsh") >= 4.0, s"LSH recall collapsed: avg ${r("lsh")}/5")
    assert(r("ivf") >= 4.0, s"IVF recall collapsed: avg ${r("ivf")}/5")
  }

  test("quantized search recall@10 stays above the floor (v11 gate)") {
    // v11 ranks by the int8-quantized cosine; this floors its overlap
    // with the exact v1 top-10 per probe so a quantization change
    // (codes, scales, rounding) that degrades the RANKING fails a spec
    // instead of shipping — v11's own oracle replicates the quantized
    // math and stays green under any quantization. int8 on 64 dims
    // loses ~1e-2 relative dot-product error; measured overlap at
    // sf0.001 is 10/10 on every probe.
    val exact = SparkEntry.queries("v1_cosine_topk")(spark, sf0001)
      .select("id_q", "id_n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = SparkEntry.queries("v11_quantized_topk")(spark, sf0001)
      .select("id_q", "id_n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(quant.keySet == exact.keySet)
    exact.foreach { case (q, ids) =>
      val hits = (ids intersect quant(q)).size
      assert(hits >= 8,
        s"probe $q: quantized top-10 hit only $hits/10 of the exact set")
    }
  }

  test("MIPS-LSH recall stays above the floor (v13 gate)") {
    // v13's augmented-space candidates, reranked by exact dot, must
    // keep hitting the exact v12 top-10 — the same gate discipline as
    // v8: the approximate query's own oracle replicates the
    // augmentation and stays green under ANY banding. Measured 5/5 on
    // every probe at sf0.001 and sf0.01.
    val exact = SparkEntry.queries("v12_mips_topk")(spark, sf0001)
      .select("id_q", "id_n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = SparkEntry.queries("v13_mips_lsh")(spark, sf0001)
      .select("id_q", "id_n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (q, ids) =>
      val hits = (approx(q) intersect ids).size
      assert(hits >= 4, s"probe $q: MIPS-LSH hit only $hits/5")
    }
  }

  test("d16 semantic clusters: total, fixpoint canonicals, min-id rule") {
    val out = SparkEntry.queries("d16_semantic_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(out.length == n, "every vector needs a verdict row")
    assert(out.map(_._1).distinct.length == out.length)
    val canonOf = out.map(t => t._1 -> t._2).toMap
    out.foreach { case (id, c, kept) =>
      assert(c <= id, s"canonical $c of $id must be the component min")
      assert(canonOf(c) == c, s"canonical $c must be a fixpoint")
      assert((kept == 1L) == (id == c))
    }
    assert(out.exists(_._3 == 0L),
      "the planted embedding near-dups must form at least one cluster")
  }

  test("lloyd iteration recovers planted well-separated clusters") {
    // three tight clusters around (0,0), (10,10), (20,20); one seed
    // point per cluster as init — after update+re-assign every point
    // must sit with its planted cluster's centroid
    val pts = (for {
      (cx, label) <- Seq((0.0, 0L), (10.0, 1L), (20.0, 2L))
      i <- 0 until 5
    } yield (label * 5 + i, Seq(cx + i * 0.1, cx - i * 0.1), label))
      .toDF("id", "v", "truth")
    val x = pts.select(col("id"), col("v"))
    val init = pts.filter(col("id") % 5 === 0)
      .select(col("truth").as("cid"), col("v").as("c"))
    def assign(cents: org.apache.spark.sql.DataFrame) =
      VectorOps.routeToCentroids(x, cents, 1)(VectorOps.euclidDistance)
    val a1 = assign(VectorOps.centroidMeans(assign(init)))
    val got = a1.select("id", "cid").as[(Long, Long)].collect().toMap
    pts.select("id", "truth").as[(Long, Long)].collect().foreach {
      case (id, truth) => assert(got(id) == truth,
        s"point $id must stay in planted cluster $truth, got ${got(id)}")
    }
  }

  test("v10 gram matrix supports the driver-side PCA eigensolve") {
    // the data-sized pass is v10 (one aggregation); everything below is
    // the d x d driver-side step a PCA pipeline runs on its output —
    // power iteration on the 64x64 matrix, asserting a genuine dominant
    // eigenpair comes out (positive eigenvalue, small residual)
    val dim = 64
    val cells = SparkEntry.queries("v10_gram")(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(cells.length == dim * (dim + 1) / 2)
    val g = Array.ofDim[Double](dim, dim)
    cells.foreach { case (i, j, fx) =>
      val x = fx.toDouble / 1e12 // undo scale^2
      g(i.toInt)(j.toInt) = x
      g(j.toInt)(i.toInt) = x
    }
    // diagonal = sum of squares: strictly positive on real data
    (0 until dim).foreach(i => assert(g(i)(i) > 0.0))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    // synthetic embeddings have a small eigengap — a few hundred cheap
    // 64x64 matvecs buy convergence regardless
    for (_ <- 1 to 500) {
      val gv = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).sum)
      val norm = math.sqrt(gv.map(x => x * x).sum)
      v = gv.map(_ / norm)
      lambda = norm
    }
    assert(lambda > 0.0, "dominant eigenvalue of X'X must be positive")
    val gv = Array.tabulate(dim)(i =>
      (0 until dim).map(j => g(i)(j) * v(j)).sum)
    val residual = math.sqrt(
      gv.zip(v).map { case (a, b) => (a - lambda * b) * (a - lambda * b) }
        .sum) / lambda
    assert(residual < 1e-6,
      s"power iteration must converge to an eigenpair (residual $residual)")
  }

  test("PQ: clone shares codes; ADC to a clone is the quantization floor") {
    // the two plumbing invariants ADC correctness rests on: (1) encode
    // is a pure function of the vector (a bit-identical clone gets the
    // identical code row), (2) the ADC lookup-sum against a clone's
    // codes reproduces exactly Σ_s min_c d2 — the probe's own
    // quantization error, the floor of the approximate metric. A
    // broken table index or fold order breaks (2) loudly.
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val p = VectorOps.prepared(emb, "vec_id", "embedding")
    val probe = p.filter(col("id") === 0)
    val clone = probe.withColumn("id", lit(10000L))
    def codesOf(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select(VectorOps.pqEncode(
          VectorOps.pqDistances(col("v"), 8, 16, 64)).as("codes"))
        .as[Seq[Int]].collect()(0)
    val c0 = codesOf(probe)
    assert(c0 == codesOf(clone))
    assert(c0.length == 8 && c0.forall(c => c >= 0 && c < 16))
    val ad2 = VectorOps.pqTopK(clone, probe, 8, 16, 64, 1)
      .select("ad2").as[Double].collect()(0)
    val qfloor = probe
      .select(aggregate(transform(
          VectorOps.pqDistances(col("v"), 8, 16, 64),
          dl => array_min(dl)), lit(0.0), (a, x) => a + x).as("f"))
      .as[Double].collect()(0)
    val rounded = BigDecimal(qfloor)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ad2 == rounded,
      s"ADC(q, clone)=$ad2 must equal the rounded quantization floor $rounded")
  }

  test("d23 semdedup: ledger reconciles and a planted clone is dropped") {
    // A bit-identical clone (cos = 1.0) must land in its original's
    // cell (identical distances, same argmin tiebreak) and be dropped
    // by the smaller-id keeper rule; the ledger must reconcile:
    // Σ n_vecs = corpus size (+1 clone), dropped ≤ pairs per cell.
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val clone = emb.filter(col("vec_id") === 20L)
      .withColumn("vec_id", lit(999999L))
    emb.unionByName(clone)
      .createOrReplaceTempView("embeddings_d23_test")
    val n = emb.count() + 1
    // run the same pipeline shape directly over the augmented corpus
    val prep2 = VectorOps.prepared(
      spark.table("embeddings_d23_test"), "vec_id", "embedding")
    val pts = prep2.select(col("id"), col("v"))
    val cent0 = pts.filter(col("id") < 16)
      .select(col("id").as("cid"), col("v").as("c"))
    def assign(cents: org.apache.spark.sql.DataFrame) =
      VectorOps.routeToCentroids(pts, cents, 1)(VectorOps.euclidDistance)
    val a1 = assign(VectorOps.centroidMeans(assign(cent0)))
    val cells = a1.select(col("id"), col("cid"), col("v"),
      VectorOps.norm2(col("v")).as("n2"))
    val cellOf = cells.filter(col("id") === 20L || col("id") === 999999L)
      .select("cid").distinct().collect()
    assert(cellOf.length == 1, "clone must route to its original's cell")
    val pairs = cells
      .select(col("cid"), col("id").as("ia"), col("v").as("va"),
        col("n2").as("n2a"))
      .join(cells.select(col("cid"), col("id").as("ib"),
        col("v").as("vb"), col("n2").as("n2b")), Seq("cid"))
      .filter(col("ia") < col("ib"))
      .withColumn("cos", VectorOps.cosineFromParts(
        VectorOps.dot(col("va"), col("vb")), col("n2a"), col("n2b")))
      .filter(col("cos") >= 0.45)
    assert(pairs.filter(col("ia") === 20L && col("ib") === 999999L)
      .count() == 1, "the planted clone pair must be flagged")
    assert(cells.count() == n, "every vector must be assigned a cell")
    val dropped = pairs.select("ib").distinct()
    assert(dropped.filter(col("ib") === 999999L).count() == 1 &&
      dropped.filter(col("ib") === 20L).count() == 0,
      "keeper rule: the larger-id clone drops, the original stays")
  }

  /** An embeddings table of the given vectors (ids 0..n-1, label 0). */
  private def writeEmbeddings(vs: Seq[Seq[Float]]): String = {
    val dir = sharedTempDir("graft_v17").toString
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("v17 MMR on probes with fewer candidates than its horizon") {
    // every vector is a probe (ids < 5) and every other vector its
    // candidate: 2 vectors give one candidate per probe, 4 give three,
    // both short of the 5 selection steps
    val fixtures = Seq(
      Seq(Seq(1f, 0f, 0f, 0f), Seq(1f, 2f, 0f, 0f)),
      Seq(Seq(1f, 0f, 0f, 0f), Seq(1f, 2f, 0f, 0f),
        Seq(0f, 1f, 3f, 0f), Seq(2f, 1f, 1f, 5f)))
    for (vs <- fixtures) {
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(x: Seq[Float], y: Seq[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q }.sum
        dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
      }
      val out = SparkEntry.queries("v17_mmr_diversity")(
          spark, writeEmbeddings(vs))
        .select("id_q", "id_n", "sel_rank").as[(Long, Option[Long], Long)]
        .collect()
      assert(out.forall(_._2.isDefined), s"null id_n: ${out.toSeq}")
      val n = vs.size
      for (q <- 0 until n) {
        val rows = out.filter(_._1 == q).sortBy(_._3)
        assert(rows.map(_._3).toSeq == (1L until n.toLong).toSeq,
          s"probe $q of $n vectors: ranks ${rows.map(_._3).toSeq}")
        val nearest = (0 until n).filter(_ != q)
          .minBy(j => (-cos(vs(q), vs(j)), j))
        assert(rows.head._2.contains(nearest.toLong),
          s"probe $q of $n vectors lost its rank-1 row: ${rows.toSeq}")
      }
    }
  }
}
