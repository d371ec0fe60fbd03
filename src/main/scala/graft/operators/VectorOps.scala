package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search operators over embedding columns
  * (`ArrayType(FloatType)`) — north-star extension, SURVEY.md §2.10.
  *
  * Numeric determinism: embeddings are widened float→double BEFORE any
  * arithmetic, and every reduction is an explicit left-to-right fold
  * (`aggregate` with a 0.0 seed). IEEE-754 double addition in a fixed
  * order is bit-reproducible across engines — which is what lets the
  * DuckDB oracle hash-match cosine scores exactly (its side folds in the
  * same order). Never rely on an engine's built-in dot product for
  * verified output: its accumulation order/width is unspecified.
  *
  * Every top-k search splits candidate generation from exact ranking,
  * and every search ends in the one ranking, [[rankPerProbe]] (self
  * pairs out, the top k per probe by score then `id_n`, a long `rank`).
  * Three search shapes generate the candidates:
  *  - exact ([[bruteForceTopK]]): the probe set is broadcast (it is
  *    small by definition); each executor scans its corpus partition
  *    once — no cross-join shuffle of the corpus.
  *  - LSH ([[lshTopK]]): each vector maps to small band-bucket ids in
  *    one projection; probe vs corpus becomes an equi-join on (band,
  *    bucket). Recall 1-(1-p^rowsPerBand)^bands is tunable up with
  *    bands, cost O(q · bands · bucketSize) down with rowsPerBand —
  *    and MEASURED, not assumed: v8_ann_recall grades the candidates
  *    against the exact top-10 and VectorOpsSpec floors the result.
  *  - IVF ([[ivfTopK]]): the corpus is assigned to its nearest centroid,
  *    probes to their nProbe nearest, and only matching cells compare.
  * The one centroid router, [[routeToCentroids]], serves IVF, the
  * cosine cell assignment and every k-means step: the centroids
  * collapse to one broadcast array row and each vector ranks them
  * in-row, so routing never shuffles the vectors.
  */
object VectorOps {

  /** float[] → double[] widening (exact). */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Strict left-fold dot product — deterministic accumulation order.
    * Backed by the native codegen'd [[org.apache.spark.sql.graft.DotProductDouble]];
    * bit-identical to the HOF fold below (VectorOpsSpec asserts it).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotProduct(a, b)

  /** Reference HOF formulation of [[dot]] — interpreted, kept as the
    * executable spec of the fold semantics.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Squared L2 norm via the same fold. */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity given precomputed squared norms (precompute them
    * once per row BEFORE any pair join — never inside it).
    */
  def cosineFromParts(dotAb: Column, n2a: Column, n2b: Column): Column =
    dotAb / sqrt(n2a * n2b)

  /** Corpus with widened vector + precomputed squared norm. Spread across
    * full parallelism first: a small parquet file is one split, and a
    * single-partition corpus turns every pair scan downstream into a
    * one-core job (see DedupOps.spread).
    */
  def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    DedupOps.spread(df)
      .select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .withColumn("n2", norm2(col("v")))

  /** A search score over a probe/corpus pair row — probe (`v_q`, `n2_q`)
    * and corpus (`v_n`, `n2_n`) — output as column `name`, rounded to 6
    * places and ranked descending on the rounded value (the value the
    * oracle ranks on).
    */
  sealed abstract class Score(val name: String, val expr: Column)

  /** Cosine similarity (v1). */
  case object Cosine extends Score("cos", round(cosineFromParts(
    dot(col("v_q"), col("v_n")), col("n2_q"), col("n2_n")), 6))

  /** Raw inner product (v12, MIPS): the retrieval objective when
    * magnitudes carry meaning (recommender scores, unnormalized
    * rerankers).
    */
  case object Dot extends Score("dot", round(dot(col("v_q"), col("v_n")), 6))

  /** The one exact ranking every search ends in: candidate rows
    * (id_q, id_n, score...) minus self pairs, the top `k` per probe by
    * `order` then `id_n` ascending, with `rank` (1..min(k, candidates))
    * as a long. `by` prepends grouping keys, so one frame can rank
    * several arms at once (v19's nprobe arms).
    */
  private[graft] def rankPerProbe(cands: DataFrame, order: Column, k: Int,
      by: Seq[String] = Nil): DataFrame =
    RelationalOps.topKPerGroup(cands.filter(col("id_q") =!= col("id_n")),
      by :+ "id_q", Seq(order, col("id_n").asc), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))

  /** Exact top-k: every probe row against the full corpus by `score`.
    * `probes` must be small — it is broadcast so the corpus never
    * shuffles; the per-probe top-k is a window (no global sort).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      score: Score = Cosine): DataFrame =
    rankPerProbe(corpus.toDF("id_n", "v_n", "n2_n")
      .crossJoin(broadcast(probes.toDF("id_q", "v_q", "n2_q")))
      .select(col("id_q"), col("id_n"), score.expr.as(score.name)),
      col(score.name).desc, k)

  /** Deterministic pseudo-random hyperplane component in [-1, 1): the
    * md5-derived 60-bit hash of "hp<plane>:<dim>" scaled by 2^59. Computed
    * driver-side (it is a constant per (plane, dim) — recomputing md5 per
    * vector row would dominate the bucket projection) but from a formula
    * any engine reproduces in SQL, which is how the oracle checks it.
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp$plane:$dim".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59).toDouble - 1.0
  }

  /** Sign-of-projection bucket id of band `band` over `rowsPerBand`
    * hyperplanes (global plane indices `band*rowsPerBand ..`): bit j is
    * set when v · plane_j >= 0. Planes are literal arrays; a bucket id
    * is one narrow projection. The projections use the native codegen'd
    * [[dot]] (bit-identical to the HOF fold, so the oracle's
    * `list_reduce` buckets agree).
    */
  def bandedBucket(v: Column, band: Int, rowsPerBand: Int,
      dim: Int): Column =
    (0 until rowsPerBand).map { j =>
      val plane = array((0 until dim)
        .map(i => lit(planeComponent(band * rowsPerBand + j, i))): _*)
      when(dot(v, plane) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** `df` exploded to one row per band: every column of `df` plus the
    * (band, bucket) of `vec` in each of `bands` bands — the candidate
    * side of every banded-LSH join.
    */
  private def banded(df: DataFrame, vec: String, bands: Int,
      rowsPerBand: Int, dim: Int): DataFrame = {
    val keep = df.columns.toSeq.map(col)
    val bandStructs = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        bandedBucket(col(vec), b, rowsPerBand, dim).as("bucket"))): _*)
    df.select(keep :+ explode(bandStructs).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+
        col("bb.bucket").as("bucket"): _*)
  }

  /** Embedding near-dup pairs at scale: banded random-projection LSH
    * (`bands` OR-amplified bands of `rowsPerBand` sign bits — candidates
    * share at least one full band), verified by exact cosine.
    *
    * This is the scale path of the brute all-pairs near-dup (d6): shape
    * mirrors the shingle/simhash candidate generators — posting lists
    * per (band, bucket) with a frequency cap, in-row pair expansion, NO
    * self-join (one computation of the bucketed corpus, no O(n²) stage;
    * the cap bounds both the pair fan-out and the collect_list group
    * size). The same pair surviving several bands is collapsed by the
    * final distinct (cosine is deterministic, so the duplicates are
    * value-identical).
    */
  def lshNearDupPairs(corpus: DataFrame, bands: Int, rowsPerBand: Int,
      dim: Int, threshold: Double,
      maxBucketFreq: Long = 10000L): DataFrame = {
    val postings = banded(corpus.toDF("id", "v", "n2"), "v", bands,
        rowsPerBand, dim)
      .groupBy("band", "bucket")
      .agg(collect_list(struct(col("id"), col("v"), col("n2"))).as("ds"))
      .filter(size(col("ds")) <= maxBucketFreq)
      .select(array_sort(col("ds")).as("ds"))
    // TILED, SPREAD expansion (OPT r19, guide §2.5 skew / §8 payload
    // discipline): the naive explode² expands a whole bucket (cosine
    // per pair, dim multiply-adds each) inside the ONE task holding its
    // posting row — sf1 measured a 4.9 s single-straggler stage on 37
    // task-seconds in every lshNearDupPairs consumer. Because each
    // element carries a dim-length VECTOR, the one-sided slice spread
    // that fixes simhashPairs would replicate the whole bucket per
    // slice (measured: a 3.9 GB exchange — worse than the skew); a
    // TWO-SIDED C×C tiling carries only each tile's own two slices, so
    // replication is ⌈|ds|/C⌉ per element, not per bucket. Diagonal
    // tiles (sj empty) expand lead × in-slice successors; off-diagonal
    // tiles expand si × sj fully — `ds` is sorted by (id, …), so that
    // is exactly the a.id < b.id half, each pair from exactly one tile.
    // ALL tiles round-robin through one small exchange (tile bytes are
    // bounded by 2C structs; an in-place/spread union measured an extra
    // stage floor at sf0.1 without helping sf1).
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val C = ExpansionTile
    val tmax = ((size(col("ds")) - 1) / lit(C)).cast("int")
    val tiles = postings
      .select(col("ds"), explode(sequence(lit(0), tmax)).as("ti"))
      .select(col("ds"), col("ti"),
        explode(sequence(col("ti"), tmax)).as("tj"))
      .select(
        slice(col("ds"), col("ti") * lit(C) + lit(1), lit(C)).as("si"),
        when(col("tj") === col("ti"), slice(col("ds"), lit(1), lit(0)))
          .otherwise(slice(col("ds"), col("tj") * lit(C) + lit(1), lit(C)))
          .as("sj"))
    tiles.repartition(parts)
      .select(col("si"), col("sj"), posexplode(col("si")).as(Seq("i", "a")))
      .select(col("a"), explode(when(size(col("sj")) === 0,
          slice(col("si"), col("i") + lit(2), lit(C)))
        .otherwise(col("sj"))).as("b"))
      .withColumn("cos", cosineFromParts(dot(col("a.v"), col("b.v")),
        col("a.n2"), col("b.n2")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Elements per tile side in [[lshNearDupPairs]]' two-sided bucket
    * tiling: a tile is ≤ C² cosines of work (~60 ms at dim 64) and
    * carries ≤ 2C vector structs (~1 MB at dim 64).
    */
  private val ExpansionTile = 1024

  /** ANN via OR-amplified banded bucket equality: a corpus vector is a
    * candidate for a probe when ANY of the `bands` band buckets
    * (`rowsPerBand` sign bits each) matches, then exact top-k by `score`
    * over the deduped candidates. The single-bucket formulation this
    * replaces (one AND over nPlanes sign bits) is high-precision/low-
    * recall by construction — on weakly-similar neighbors (cos ≈ 0.3,
    * the top-10 regime of random-ish embeddings) its match probability
    * is p^nPlanes ≈ 1%, and the v8 recall gate measured it at ~0/10.
    * OR-amplification is the standard fix: recall 1-(1-p^r)^b is
    * tunable upward with more bands, cost (≈ bands·n/2^r candidate
    * comparisons per probe) downward with more rows per band —
    * v8_ann_recall measures the operating point and VectorOpsSpec
    * floors it. Shape: the corpus explodes ×bands (narrow), probes
    * broadcast (×bands rows), one equi-join on (band, bucket), distinct
    * on the deterministic (id, id, score) triple — the corpus never
    * shuffles.
    *
    * A [[Dot]] score is approximate MIPS via the norm-augmentation
    * reduction to cosine LSH (Shrivastava–Li style, simplified): the
    * bands bucket every corpus vector extended by sqrt(M² − ‖x‖²)
    * (M² = the corpus max squared norm — a broadcast 1-row aggregate)
    * and every probe extended by 0. All augmented corpus vectors then
    * share norm M, so cosine in the augmented space is q·x / (‖q‖·M) —
    * MONOTONE in the inner product per probe. Candidates rerank by the
    * exact dot of the ORIGINAL vectors (asymmetric rerank).
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, bands: Int,
      rowsPerBand: Int, dim: Int, k: Int,
      score: Score = Cosine): DataFrame = {
    val c = corpus.toDF("id_n", "v_n", "n2_n")
    val q = probes.toDF("id_q", "v_q", "n2_q")
    val (cb, qb) = score match {
      case Cosine =>
        (banded(c, "v_n", bands, rowsPerBand, dim),
          banded(q, "v_q", bands, rowsPerBand, dim))
      case Dot =>
        val m2 = corpus.agg(max(col("n2")).as("m2"))
        // greatest(·, 0): the max-norm row's residual is a float-negative
        // zero away from exact 0, and sqrt must not see it
        val ca = c.crossJoin(broadcast(m2))
          .select(col("id_n"), col("v_n"),
            concat(col("v_n"),
              array(sqrt(greatest(col("m2") - col("n2_n"), lit(0.0)))))
              .as("va_n"))
        val qa = q.select(col("id_q"), col("v_q"),
          concat(col("v_q"), array(lit(0.0))).as("va_q"))
        (banded(ca, "va_n", bands, rowsPerBand, dim + 1),
          banded(qa, "va_q", bands, rowsPerBand, dim + 1))
    }
    rankPerProbe(cb.join(broadcast(qb), Seq("band", "bucket"))
      .select(col("id_q"), col("id_n"), score.expr.as(score.name))
      .distinct(), col(score.name).desc, k)
  }

  /** The one centroid router: every row of `vectors` ranks every
    * centroid by `distance` (a function of one centroid struct, which
    * carries the `centroids` columns by name, evaluated against the
    * vector row — [[cosineDistance]], [[euclidDistance]]) ascending,
    * centroid id (the first `centroids` column) breaking ties, and
    * keeps its `k` nearest. Returns the `vectors` columns plus `cid`,
    * `rk` (1 = nearest, long) and `dist`; callers project what they
    * need — carrying the vector through spares a re-join of the source.
    *
    * ZERO corpus movement: the K centroids collapse to ONE array row
    * (an O(K·dim) aggregate — trivial), that row is broadcast, and the
    * ranking is in-row over (dist, cid) structs — struct ordering IS
    * the (distance asc, id asc) tie-break, so no window and no shuffle
    * of the vectors. k = 1 (cell assignment, every Lloyd step) is one
    * `array_min`, no explode; k > 1 (IVF probe fan-out, soft
    * assignment) is a sorted slice posexploded in-row — fan-out is
    * exactly min(k, K)×. The first formulation here was a crossJoin +
    * window argmin, which re-shuffled the entire corpus on id once per
    * Lloyd round (plan-guarded against regression in PlanAuditSpec).
    */
  def routeToCentroids(vectors: DataFrame, centroids: DataFrame,
      k: Int)(distance: Column => Column): DataFrame = {
    val centsRow = centroids.agg(array_sort(collect_list(
      struct(centroids.columns.toSeq.map(col): _*))).as("cents"))
    val scored = transform(col("cents"), c =>
      struct(distance(c).as("dist"),
        c.getField(centroids.columns.head).as("cid")))
    val keep = vectors.columns.toSeq.map(col)
    val routed = vectors.crossJoin(broadcast(centsRow))
    if (k == 1)
      routed.withColumn("r", array_min(scored))
        .select(keep ++ Seq(col("r.cid").as("cid"), lit(1L).as("rk"),
          col("r.dist").as("dist")): _*)
    else
      routed.select(keep :+
          posexplode(slice(array_sort(scored), 1, k)).as(Seq("pos", "r")): _*)
        .select(keep ++ Seq(col("r.cid").as("cid"),
          (col("pos") + 1).cast("long").as("rk"),
          col("r.dist").as("dist")): _*)
  }

  /** Router distance by cosine: the NEGATED unrounded cosine of the
    * row's (v, n2) to a centroid's (v, n2) — the [[prepared]] shape on
    * both sides — so nearest is most similar.
    */
  def cosineDistance(c: Column): Column =
    -cosineFromParts(dot(col("v"), c.getField("v")), col("n2"),
      c.getField("n2"))

  /** Router distance by squared L2 ([[euclid2]]) of the row's `v` to a
    * (cid, c) centroid — the k-means shape: one Lloyd ASSIGN step is
    * `routeToCentroids(points, cents, 1)(euclidDistance)`.
    */
  def euclidDistance(c: Column): Column = euclid2(col("v"), c.getField("c"))

  /** IVF candidate generation: the corpus assigned to its nearest cell,
    * each probe routed to its `nProbe` nearest cells, joined on the
    * cell — (centroid_id, id_n, v_n, n2_n, id_q, rk, v_q, n2_q) pair
    * rows, `rk` the probe's route rank to the shared cell (so one
    * routing at the largest nProbe serves every smaller arm as an
    * `rk <= np` filter, v19). Probes broadcast into the cell join; the
    * corpus is scanned ONCE — routing carries the vectors through, so
    * neither side re-joins its own source. Never self-joined, never
    * shuffled by pair; each corpus vector lives in exactly one cell, so
    * no dedup step is needed.
    */
  def ivfCandidates(corpus: DataFrame, probes: DataFrame,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val corpusCells = routeToCentroids(corpus, centroids, 1)(cosineDistance)
      .select(col("id").as("id_n"), col("cid").as("centroid_id"),
        col("v").as("v_n"), col("n2").as("n2_n"))
    val probeCells = routeToCentroids(probes, centroids, nProbe)(
        cosineDistance)
      .select(col("id").as("id_q"), col("cid").as("centroid_id"),
        col("rk"), col("v").as("v_q"), col("n2").as("n2_q"))
    corpusCells.join(broadcast(probeCells), Seq("centroid_id"))
  }

  /** Full IVF ANN search: the exact cosine top-k of each probe among
    * its [[ivfCandidates]]. Cost per probe is O(nProbe × cellSize)
    * instead of O(n).
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    rankPerProbe(ivfCandidates(corpus, probes, centroids, nProbe)
      .select(col("id_q"), col("id_n"), Cosine.expr.as(Cosine.name)),
      col(Cosine.name).desc, k)

  /** Symmetric per-vector int8 quantization of the [[prepared]] column
    * `v` (v9, v11): adds `max_abs`, `scale` = 127/max|x_i| and
    * `inv` = max|x_i|/127 — both 0 for an all-zero vector, so no 0/0 —
    * and the codes `qs`, q_i = floor(x_i·scale + 0.5): round-half-up
    * through floor, because round()'s half-even vs half-away behavior
    * differs across engines.
    */
  def int8Quantized(df: DataFrame): DataFrame =
    df.withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale",
        when(col("max_abs") > 0, lit(127.0) / col("max_abs"))
          .otherwise(lit(0.0)))
      .withColumn("inv",
        when(col("max_abs") > 0, col("max_abs") / lit(127.0))
          .otherwise(lit(0.0)))
      .withColumn("qs",
        transform(col("v"), x => floor(x * col("scale") + lit(0.5))))

  // ---- Product quantization (ADC search over compressed codes) -------

  /** Deterministic PQ codebook component in [-1, 1): md5-derived like
    * [[planeComponent]], keyed "pq<sub>:<code>:<dim>" — a constant per
    * cell, computed driver-side from a formula the oracle reproduces in
    * SQL. (A production codebook comes from per-subspace k-means — v7
    * has the trainer; a fixed seeded codebook keeps the query
    * hash-checkable while exercising the identical encode/ADC shape.)
    */
  def pqComponent(sub: Int, code: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"pq$sub:$code:$dim".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59).toDouble - 1.0
  }

  /** Per-subspace squared distances to every codebook entry:
    * dists[s][c] = ||v_sub(s) − cb(s)(c)||², the shared kernel of both
    * PQ encode (argmin per row over the corpus) and the per-probe ADC
    * table (the same array, looked up instead of minimized). One narrow
    * projection over codebook LITERALS — subs·codes·subDim fused
    * multiply-adds per row inside codegen, zero shuffle.
    */
  def pqDistances(v: Column, subs: Int, codes: Int, dim: Int): Column = {
    val subDim = dim / subs
    array((0 until subs).map { s =>
      array((0 until codes).map { c =>
        val cb = array((0 until subDim)
          .map(j => lit(pqComponent(s, c, j))): _*)
        euclid2(slice(v, s * subDim + 1, subDim), cb)
      }: _*)
    }: _*)
  }

  /** PQ code word per subspace: index of the exact minimum distance
    * (array_position of array_min — first match, so ties break to the
    * LOWEST code on both engines). 0-based, `codes ≤ 256` → one byte
    * per subspace: the corpus representation ADC scans is subs bytes
    * per vector (32× smaller than the float32 rows here).
    */
  def pqEncode(dists: Column): Column =
    transform(dists, dl =>
      (array_position(dl, array_min(dl)) - 1).cast("int"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    * encoded ONCE to subs-byte code rows; each probe precomputes its
    * subs×codes distance table and is broadcast; scoring a corpus row
    * is subs table LOOKUPS folded left in subspace order (no float
    * kernel on the scan side — the property that makes ADC the 100 TB
    * scan format). Approximate distance ties (identical code rows)
    * break by id_n; the fold order is fixed so both engines produce
    * bit-identical sums.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, subs: Int,
      codes: Int, dim: Int, k: Int): DataFrame =
    pqTopKFromCodes(
      corpus.select(col("id").as("id_n"),
        pqEncode(pqDistances(col("v"), subs, codes, dim)).as("codes")),
      probes, subs, codes, dim, k)

  /** [[pqTopK]] over an ALREADY-ENCODED corpus (`(id_n, codes)` rows) —
    * what lets v14 and v21 share one persisted encode pass (OPT r19:
    * the encode is subs·codes·subDim fused multiply-adds per corpus
    * row, the dominant cost of the ADC search, and v21 re-runs v14 as
    * its subject by contract — a named cache line attributes the scan
    * once instead of computing it per consumer).
    */
  def pqTopKFromCodes(enc: DataFrame, probes: DataFrame, subs: Int,
      codes: Int, dim: Int, k: Int): DataFrame = {
    val ptab = probes.select(col("id").as("id_q"),
      pqDistances(col("v"), subs, codes, dim).as("dtab"))
    val ad2 = aggregate(sequence(lit(0), lit(subs - 1)), lit(0.0),
      (a, s) => a + element_at(element_at(col("dtab"), s + 1),
        element_at(col("codes"), s + 1) + 1))
    // ranked on the RAW sum, rounded after
    rankPerProbe(enc.crossJoin(broadcast(ptab))
        .select(col("id_q"), col("id_n"), ad2.as("ad2")),
        col("ad2").asc, k)
      .withColumn("ad2", round(col("ad2"), 6))
  }

  // ---- Lloyd k-means (iterative clustering, bit-reproducible) ---------

  /** Squared Euclidean distance via the same index-ordered left fold as
    * [[dotHof]] — bit-reproducible across engines, which is what lets
    * an ITERATIVE algorithm hash-match an oracle: identical distances →
    * identical argmin assignments → identical next-round centroids.
    */
  def euclid2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)

  /** One Lloyd UPDATE step: elementwise mean of each cluster's vectors,
    * INTEGER-EXACT until one final division — components are scaled to
    * fixed point (`floor(x·10^6)`, exact longs; floor rather than round
    * because round-half tie behavior differs across engines), summed
    * exactly, and divided once by n·10^6. The usual
    * `avg(double)` would be partition-order-dependent and could flip a
    * borderline next-round assignment on one engine but not the other.
    *
    * Shape: posexplode (×dim) → hash agg to K·dim cells (map-side
    * partials — the shuffle carries K·dim rows per partition, not the
    * corpus) → K rows of re-assembled mean arrays (array_sort by pos
    * makes collect_list's nondeterministic order irrelevant).
    */
  def centroidMeans(assigned: DataFrame): DataFrame = {
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("cid"), col("pos"),
        floor(col("x") * lit(1000000.0)).as("fx"))
      .groupBy("cid", "pos")
      .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))
      .select(col("cid"), col("pos"), (col("sfx").cast("double") /
        (col("n") * lit(1000000L)).cast("double")).as("ci"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("ci")))),
        s => s.getField("ci")).as("c"))
  }
}
