package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.sources.Tables

/** Similarity-search queries over `embeddings` (north-star extension):
  * brute-force cosine top-k as the exactness baseline, hyperplane-LSH
  * bucketed ANN as the scale path, IVF-style centroid routing.
  *
  * Oracle parity rests on deterministic arithmetic: float→double widening
  * before any math, explicit left-fold reductions, ranking on the rounded
  * score with a unique id tiebreak. The LSH hyperplanes are md5-derived
  * constants — the Spark side embeds them as literals, the DuckDB side
  * recomputes them from the same formula.
  */
object QueriesVector {

  private val Dim = 64
  private val Bands = 6
  private val RowsPerBand = 2

  /** v14/v21's PQ geometry: 8 one-byte code words over a 16-entry
    * seeded codebook (documented in v14's comment; shared with the
    * [[pqCodes]] cache so both consumers encode identically).
    */
  private val PqSubs = 8
  private val PqCodes = 16

  /** Prepared corpus (widened vectors + precomputed norms), PERSISTED —
    * the docsWithTokens house pattern: CacheManager plan equality makes
    * every v-family query reuse one materialized prep per scale dir
    * instead of re-widening and re-norming the embeddings per query
    * (v8 alone consumes the frame five times across its three
    * searches). At 100 TB this is the standard "prepare once →
    * checkpoint → fan out to every index build" discipline.
    */
  private lazy val prep = SharedFrame.persisted("vector.prep") { (s, d) =>
    VectorOps.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
  }

  /** d23's cell-assigned corpus (id, cid, v, n2), PERSISTED with the
    * prep discipline: the deterministic k-means routing chain (two
    * assignment passes + one fixed-point Lloyd step) is consumed by
    * BOTH sides of the pair join and by the per-cell count — uncached,
    * the whole chain would re-execute once per consumer. At 100 TB
    * this is "route once → checkpoint → fan out", the same law as
    * prep/docsWithTokens.
    */
  /** The frame carries the RANKED top-2 routing (id, cid, rk, v, n2):
    * d23 dedups within rk=1 cells; d24's multi-probe arm admits both
    * ranks — one cached routing serves the whole curve (v19's
    * route-once discipline). */
  private lazy val semdedupCells = SharedFrame.persisted(
      "vector.semdedup_cells", prep) { (s, d) =>
    val pts = prep(s, d).select(col("id"), col("v"))
    // K scales with the corpus (target cell ≈ 312 vectors, floor 16)
    // so the in-cell pair join stays ~quadratic-in-a-CONSTANT at any
    // scale — a fixed K would grow cells linearly and the join
    // quadratically. Derived IN-PLAN (broadcast 1-row count, no
    // action at query-build time — the d6 lesson); integer div keeps
    // K identical across engines, and at sf0.01/sf0.1 it lands on
    // exactly the original 16.
    val kk = pts.agg(greatest(lit(16L),
      expr("count(1) div 312")).as("kk"))
    val cent0 = pts.crossJoin(broadcast(kk))
      .filter(col("id") < col("kk"))
      .select(col("id").as("cid"), col("v").as("c"))
    val c1 = VectorOps.centroidMeans(
      VectorOps.routeToCentroids(pts, cent0, 1)(VectorOps.euclidDistance))
    VectorOps.routeToCentroids(pts, c1, 2)(VectorOps.euclidDistance)
      .select(col("id"), col("cid"), col("rk"), col("v"),
        VectorOps.norm2(col("v")).as("n2"))
  }

  /** d23/d24's cell-local near-dup pairs at probe depth `np` (shared
    * cell among each side's top-np routed cells), as (cid, ia, ib)
    * with the smaller-id-first dot orientation so both engines fold
    * identical doubles into the threshold compare. At np = 1 each
    * vector lives in one cell so pairs are unique; at np > 1 a pair
    * can surface once per shared cell — consumers that count pairs
    * must DISTINCT on (ia, ib).
    */
  private def semdedupPairs(s: SparkSession, d: String,
      np: Int = 1): DataFrame = {
    val cells = semdedupCells(s, d).filter(col("rk") <= np)
    cells
      .select(col("cid"), col("id").as("ia"), col("v").as("va"),
        col("n2").as("n2a"))
      .join(cells.select(col("cid"), col("id").as("ib"),
        col("v").as("vb"), col("n2").as("n2b")), Seq("cid"))
      .filter(col("ia") < col("ib"))
      .withColumn("cos", VectorOps.cosineFromParts(
        VectorOps.dot(col("va"), col("vb")), col("n2a"), col("n2b")))
      .filter(col("cos") >= 0.45)
      .select("cid", "ia", "ib")
  }

  /** v19's routings (ids only) — plan-only helpers, cheap and rebuilt
    * per consumer (the expensive shared frame is [[v19Pairs]]): the
    * corpus to its cell (id_n, centroid_id) and the 5 probes to their 3
    * nearest cells (id_q, centroid_id, rk).
    */
  private def v19CorpusCells(s: SparkSession, d: String): DataFrame = {
    val p = prep(s, d)
    VectorOps.routeToCentroids(p, p.filter(col("id") < 10), 1)(
        VectorOps.cosineDistance)
      .select(col("id").as("id_n"), col("cid").as("centroid_id"))
  }

  private def v19Routed(s: SparkSession, d: String): DataFrame = {
    val p = prep(s, d)
    VectorOps.routeToCentroids(p.filter(col("id") < 5),
        p.filter(col("id") < 10), 3)(VectorOps.cosineDistance)
      .select(col("id").as("id_q"), col("cid").as("centroid_id"),
        col("rk"))
  }

  /** v19's routed cosine pairs (id_q, id_n, rk, cos), PERSISTED with the
    * prep discipline: all three nprobe arms are rk-filters over this ONE
    * cosine join, so uncached it would re-execute once per arm. */
  private lazy val v19Pairs = SharedFrame.persisted(
      "vector.v19_pairs", prep) { (s, d) =>
    val p = prep(s, d)
    VectorOps.ivfCandidates(p, p.filter(col("id") < 5),
        p.filter(col("id") < 10), 3)
      .select(col("id_q"), col("id_n"), col("rk"),
        VectorOps.Cosine.expr.as("cos"))
  }

  /** v14/v21's PQ-encoded corpus (id_n, codes), PERSISTED (OPT r19,
    * VERDICT r18 #3): the encode — subs·codes·subDim fused multiply-
    * adds per corpus row — is the ADC search's dominant scan cost, and
    * v21 re-runs v14 as its subject by gate contract, so uncached it
    * executed once per consumer. A named cache line attributes the
    * build once (Bench times it on its own `[bench-cache]` line), the
    * same discipline as `vector.semdedup_cells`.
    */
  private lazy val pqCodes = SharedFrame.persisted(
      "vector.pq_codes", prep) { (s, d) =>
    prep(s, d).select(col("id").as("id_n"),
      VectorOps.pqEncode(
        VectorOps.pqDistances(col("v"), PqSubs, PqCodes, Dim))
        .as("codes"))
  }

  lazy val registry: Seq[Query] = Seq(
    // Exact top-10 neighbors for the first 5 vectors: corpus scanned once,
    // probes broadcast, per-probe top-k via window.
    Query("v1_cosine_topk", (s, d) => {
      val p = prep(s, d)
      VectorOps.bruteForceTopK(p, p.filter(col("id") < 5), 10)
    },
      s"""WITH $preparedSql,
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5)
         |SELECT id_q, id_n, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rank FROM p)
         |WHERE rank <= 10""".stripMargin,
      reads = Seq(prep)),

    // Product-quantization ADC search — the third leg of the
    // compression story (int8 = v9/v11 keeps 64 bytes/vector; PQ keeps
    // EIGHT): the corpus is encoded once into 8 one-byte code words
    // (argmin per 8-dim subspace over a 16-entry seeded codebook), each
    // probe precomputes its 8×16 distance table and broadcasts it, and
    // scoring a corpus row is 8 table LOOKUPS — no float kernel on the
    // scan side, which is what makes ADC the format a 100 TB ANN scan
    // actually reads. Codebook is md5-seeded (deterministic,
    // oracle-reproducible); production would train it with v7's
    // per-subspace k-means on the identical encode/ADC shape.
    Query("v14_pq_adc", (s, d) => {
      val p = prep(s, d)
      VectorOps.pqTopKFromCodes(pqCodes(s, d), p.filter(col("id") < 5),
        PqSubs, PqCodes, Dim, 5)
    },
      // v14: codebook rebuilt from the md5 formula as a 128-entry flat
      // list (index sv*16+cv+1); `dls` is the shared encode/ADC distance
      // kernel — identical left folds to the Spark side, so code words
      // and ADC sums are bit-equal before the 6dp rounding
      s"""WITH $pqChainSql
         |SELECT id_q, id_n, round(ad2, 6) AS ad2, rank FROM r
         |WHERE rank <= 5""".stripMargin,
      reads = Seq(pqCodes, prep)),

    // ANN: probes meet corpus vectors sharing ANY of 6 band buckets
    // (2 sign bits each, OR-amplified — the same banding as v5), exact
    // top-5 over the deduped candidates. v8 measures this operating
    // point's recall against the exact v1 answer.
    Query("v2_ann_lsh", (s, d) => {
      val p = prep(s, d)
      VectorOps.lshTopK(p, p.filter(col("id") < 5), Bands, RowsPerBand,
        Dim, 5)
    },
      s"""WITH $preparedSql,
         |cb AS ($bandSelects),
         |p AS (SELECT DISTINCT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM cb a JOIN cb b ON a.band = b.band
         |        AND a.bucket = b.bucket AND b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5)
         |SELECT id_q, id_n, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rank FROM p)
         |WHERE rank <= 5""".stripMargin,
      reads = Seq(prep)),

    // IVF-style routing: nearest of 10 fixed centroids per vector.
    Query("v3_centroid_assign", (s, d) => {
      val p = prep(s, d)
      VectorOps.routeToCentroids(p, p.filter(col("id") < 10), 1)(
          VectorOps.cosineDistance)
        .select(col("id").as("vec_id"), col("cid").as("centroid_id"),
          round(-col("dist"), 6).as("cos"))
    },
      s"""WITH $preparedSql,
         |p AS (SELECT a.vec_id, b.vec_id AS centroid_id,
         |      $dotSql / sqrt(a.n2 * b.n2) AS cos
         |      FROM n a JOIN n b ON b.vec_id < 10)
         |SELECT vec_id, centroid_id, round(cos, 6) AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, centroid_id) AS rk FROM p)
         |WHERE rk = 1""".stripMargin,
      reads = Seq(prep)),

    // Full IVF ANN search: corpus assigned to 10 cells, probes routed to
    // their 3 nearest cells, exact top-5 among the routed cells only.
    Query("v4_ivf_topk", (s, d) => {
      val p = prep(s, d)
      VectorOps.ivfTopK(p, p.filter(col("id") < 5),
        p.filter(col("id") < 10), nProbe = 3, k = 5)
    },
      s"""WITH $preparedSql,
         |cent AS (SELECT vec_id AS centroid_id, v, n2 FROM n
         |      WHERE vec_id < 10),
         |ca AS (SELECT id_n, centroid_id FROM (
         |      SELECT a.vec_id AS id_n, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true)
         |      WHERE rk = 1),
         |pr AS (SELECT id_q, centroid_id FROM (
         |      SELECT a.vec_id AS id_q, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true
         |      WHERE a.vec_id < 5)
         |      WHERE rk <= 3),
         |pairs AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM pr
         |      JOIN n a ON a.vec_id = pr.id_q
         |      JOIN ca ON ca.centroid_id = pr.centroid_id
         |      JOIN n b ON b.vec_id = ca.id_n
         |      WHERE b.vec_id <> a.vec_id)
         |SELECT id_q, id_n, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rank FROM pairs)
         |WHERE rank <= 5""".stripMargin,
      reads = Seq(prep)),

    // Embedding near-dup at scale: banded random-projection LSH (6 bands
    // x 2 sign bits, OR-amplified) + exact cosine verify — the scale
    // path of brute d6_embedding_neardup.
    Query("v5_neardup_lsh", (s, d) => {
      VectorOps.lshNearDupPairs(prep(s, d), bands = Bands,
        rowsPerBand = RowsPerBand, dim = Dim, threshold = 0.45)
    },
      {
      s"""WITH $preparedSql,
         |cb AS ($bandSelects),
         |rare AS (SELECT band, bucket FROM cb GROUP BY band, bucket
         |      HAVING count(*) <= 10000),
         |cf AS (SELECT cb.* FROM cb JOIN rare USING (band, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM cf a JOIN cf b ON a.band = b.band
         |        AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |FROM cand
         |JOIN n a ON a.vec_id = cand.id_a
         |JOIN n b ON b.vec_id = cand.id_b
         |WHERE $dotSql / sqrt(a.n2 * b.n2) >= 0.45""".stripMargin
    }
  ,
      reads = Seq(prep)),

    // SEMANTIC decontamination — d8's held-out-leakage gate in
    // embedding space: lexical decontamination (shingle overlap)
    // catches copies, but a PARAPHRASED test item shares no shingles
    // with its training twin — only its neighborhood. The held-out
    // split (seeded hash, d8's convention) meets the training split
    // through v5's banded-LSH candidates (never an all-pairs join);
    // each test vector reports how many training vectors sit above
    // the similarity threshold and the worst (closest) one. Membership
    // derives from the ids by formula — no extra join.
    Query("d22_semantic_decontam", (s, d) => {
      def bucket(id: Column) = graft.operators.TextOps.md5Prefix60(
        concat(lit("vsplit:"), id.cast("string"))) % 100
      val pairs = VectorOps.lshNearDupPairs(prep(s, d), bands = Bands,
        rowsPerBand = RowsPerBand, dim = Dim, threshold = 0.35)
      pairs
        .select(col("id_a"), col("id_b"), col("cos"),
          bucket(col("id_a")).as("ba"), bucket(col("id_b")).as("bb"))
        .filter((col("ba") >= 90 && col("bb") < 80) ||
          (col("bb") >= 90 && col("ba") < 80))
        .select(
          when(col("ba") >= 90, col("id_a")).otherwise(col("id_b"))
            .as("test_id"),
          col("cos"))
        .groupBy("test_id")
        .agg(count(lit(1)).as("n_train_neighbors"),
          max(col("cos")).as("max_cos"))
    },
      // d22: v5's candidate chain + the seeded split filter; membership
      // from the same id formula.
      {
      def b(idExpr: String) =
        s"""CAST(concat('0x', substr(md5(concat('vsplit:',
           |      CAST($idExpr AS VARCHAR))), 1, 15)) AS BIGINT)
           |      % 100""".stripMargin
      s"""WITH $preparedSql,
         |cb AS ($bandSelects),
         |rare AS (SELECT band, bucket FROM cb GROUP BY band, bucket
         |      HAVING count(*) <= 10000),
         |cf AS (SELECT cb.* FROM cb JOIN rare USING (band, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM cf a JOIN cf b ON a.band = b.band
         |        AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pr AS (SELECT id_a, id_b,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos,
         |      ${b("id_a")} AS ba,
         |      ${b("id_b")} AS bb
         |  FROM cand
         |  JOIN n a ON a.vec_id = cand.id_a
         |  JOIN n b ON b.vec_id = cand.id_b
         |  WHERE $dotSql / sqrt(a.n2 * b.n2) >= 0.35)
         |SELECT CASE WHEN ba >= 90 THEN id_a ELSE id_b END AS test_id,
         |  count(*) AS n_train_neighbors, max(cos) AS max_cos
         |FROM pr
         |WHERE (ba >= 90 AND bb < 80) OR (bb >= 90 AND ba < 80)
         |GROUP BY 1""".stripMargin
    },
      reads = Seq(prep)),

    // SEMANTIC dedup clusters — the embedding-space mirror of the
    // lexical d7→d15 chain, because a real training-data pipeline
    // runs BOTH (shingles catch copies, embeddings catch paraphrases
    // lexical dedup is structurally blind to): v5's verified near-dup
    // pairs → connected components → every vector mapped to its
    // cluster's canonical (= the component's smallest id, which IS
    // the min-label the components carry — no extra election pass),
    // singletons to themselves. Total keep/drop verdict, O(edges)
    // clustering, corpus never compared pairwise.
    Query("d16_semantic_clusters", (s, d) => {
      val pairs = VectorOps.lshNearDupPairs(prep(s, d), Bands,
        RowsPerBand, Dim, 0.45)
      val clusters = graft.operators.DedupOps
        .connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("cluster").as("canonical_id"))
      val singles = prep(s, d).select(col("id").as("vec_id"))
        .join(clusters, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("vec_id").as("canonical_id"))
      clusters.unionAll(singles)
        .select(col("vec_id"), col("canonical_id"),
          (col("vec_id") === col("canonical_id")).cast("long")
            .as("is_kept"))
    },
      // v5's pair chain wrapped in d7's recursive closure; canonical =
      // component min, singletons self-canonical
      s"""WITH RECURSIVE $preparedSql,
         |cb AS MATERIALIZED ($bandSelects),
         |rare AS (SELECT band, bucket FROM cb GROUP BY band, bucket
         |      HAVING count(*) <= 10000),
         |cf AS MATERIALIZED (SELECT cb.* FROM cb JOIN rare USING (band, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM cf a JOIN cf b ON a.band = b.band
         |        AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS MATERIALIZED (SELECT id_a, id_b FROM cand
         |      JOIN n a ON a.vec_id = cand.id_a
         |      JOIN n b ON b.vec_id = cand.id_b
         |      WHERE $dotSql / sqrt(a.n2 * b.n2) >= 0.45),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r
         |    JOIN edges e2 ON r.dst = e2.src),
         |comp AS MATERIALIZED (SELECT src AS vec_id,
         |      least(src, min(dst)) AS canonical_id
         |      FROM reach GROUP BY src),
         |u AS (SELECT vec_id, canonical_id FROM comp
         |      UNION ALL
         |      SELECT vec_id, vec_id FROM n
         |      WHERE vec_id NOT IN (SELECT vec_id FROM comp))
         |SELECT vec_id, canonical_id,
         |  CAST(vec_id = canonical_id AS BIGINT) AS is_kept
         |FROM u""".stripMargin,
      reads = Seq(prep)),

    // Hybrid (filtered) retrieval: top-10 neighbors among ENGLISH
    // documents only (embeddings joined to documents on vec_id =
    // doc_id). The metadata predicate prunes the corpus BEFORE the
    // distance computation — post-filtering a top-k under-fills k when
    // the filter is selective. At scale the filter rides the same scan
    // (or a semi-join against the metadata table, as here); the search
    // itself is unchanged.
    Query("v6_hybrid_topk", (s, d) => {
      val p = prep(s, d)
      val en = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"))
      val corpus = p.join(en, p("id") === en("doc_id"))
        .select(p("id"), p("v"), p("n2"))
      VectorOps.bruteForceTopK(corpus, p.filter(col("id") < 5), 10)
    },
      s"""WITH $preparedSql,
         |e AS (SELECT n.* FROM n JOIN documents
         |      ON n.vec_id = documents.doc_id WHERE lang = 'en'),
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM n a JOIN e b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5)
         |SELECT id_q, id_n, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rank FROM p)
         |WHERE rank <= 10""".stripMargin,
      reads = Seq(prep)),

    // ANN recall gate: for each probe, how many of the EXACT top-10
    // neighbors (v1, the brute-force baseline) each approximate
    // candidate set actually contains — recall@10 as exact integers,
    // per probe and method. v2/v4's own oracles replicate the same
    // LSH/IVF math, so they stay green under ANY planes/bands/nProbe
    // choice; this query is graded against the exact answer, so a
    // retune that silently collapses recall shows up as a changed
    // n_hits (and trips the floor VectorOpsSpec asserts on top). Shape:
    // the approximate sets are ≤ 5·k rows — the left joins against the
    // 50-row exact list broadcast trivially; the expensive part is the
    // three searches themselves, each keeping its own scale shape.
    // Graded ranking quality — nDCG@10 over v1's exact top-k with the
    // embeddings' label column as binary relevance (same-cluster
    // neighbor = relevant): the retrieval-EVALUATION metric v8's
    // set-recall cannot express, because it scores WHERE the relevant
    // neighbors rank, not just whether they appear. DCG folds
    // rank-ascending in-row (the ts8 ordered-fold discipline — never a
    // groupBy sum over doubles) with log2 as the ln-ratio both engines
    // evaluate identically; IDCG folds over the first n_rel ideal
    // slots; a probe with no relevant neighbor scores 0 (guarded 0/0).
    // Shape: v1's search + two broadcast label joins + one per-probe
    // agg over ≤ k rows.
    Query("v15_ndcg", (s, d) => {
      val topk = SparkEntry.queries("v1_cosine_topk")(s, d)
        .select("id_q", "id_n", "rank")
      val lab = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      val rel = topk
        .join(broadcast(lab.select(col("vec_id").as("id_q"),
          col("label").as("label_q"))), Seq("id_q"))
        .join(broadcast(lab.select(col("vec_id").as("id_n"),
          col("label").as("label_n"))), Seq("id_n"))
        .select(col("id_q"), col("rank"),
          when(col("label_q") === col("label_n"), 1L).otherwise(0L)
            .as("rel"))
      val g = rel.groupBy("id_q").agg(
        sum(col("rel")).as("n_rel"),
        array_sort(collect_list(struct(col("rank"), col("rel"))))
          .as("cells"))
      val ln2 = log(lit(2.0))
      val dcg = aggregate(col("cells"), lit(0.0), (a, x) =>
        a + x.getField("rel").cast("double") /
          (log(x.getField("rank").cast("double") + lit(1.0)) / ln2))
      val idcg = when(col("n_rel") > 0,
        aggregate(sequence(lit(1L), col("n_rel")), lit(0.0), (a, i) =>
          a + lit(1.0) / (log(i.cast("double") + lit(1.0)) / ln2)))
        .otherwise(lit(0.0))
      g.select(col("id_q"), col("n_rel"),
        round(dcg, 6).as("dcg"), round(idcg, 6).as("idcg"),
        round(when(idcg > 0, dcg / idcg).otherwise(lit(0.0)), 6)
          .as("ndcg"))
    },
      // v15: v1's chain + label joins; DCG/IDCG as the identical
      // rank-ascending folds with log2 = ln-ratio.
      s"""WITH $preparedSql,
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5),
         |tk AS (SELECT id_q, id_n, rank FROM (
         |      SELECT *, row_number() OVER (PARTITION BY id_q
         |        ORDER BY cos DESC, id_n) AS rank FROM p)
         |      WHERE rank <= 10),
         |rl AS (SELECT tk.id_q, tk.rank,
         |      CASE WHEN lq.label = ln_.label THEN 1 ELSE 0 END AS rel
         |      FROM tk JOIN embeddings lq ON tk.id_q = lq.vec_id
         |        JOIN embeddings ln_ ON tk.id_n = ln_.vec_id),
         |g AS (SELECT id_q, CAST(sum(rel) AS BIGINT) AS n_rel,
         |      list(CAST(rel AS DOUBLE)
         |          / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
         |        ORDER BY rank) AS terms
         |      FROM rl GROUP BY id_q),
         |f AS (SELECT id_q, n_rel,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
         |        (a, x) -> a + x) AS dcg,
         |      CASE WHEN n_rel > 0 THEN
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(range(n_rel), i -> 1.0
         |            / (ln(CAST(i + 1 AS DOUBLE) + 1.0) / ln(2.0)))),
         |          (a, x) -> a + x)
         |      ELSE 0.0 END AS idcg
         |      FROM g)
         |SELECT id_q, n_rel, round(dcg, 6) AS dcg,
         |  round(idcg, 6) AS idcg,
         |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
         |    AS ndcg
         |FROM f""".stripMargin,
      reads = Seq(prep)),

    // Hard-negative mining — the contrastive-training data op: for
    // every probe, the best-ranked SAME-label neighbor (the positive)
    // and the best-ranked DIFFERENT-label neighbor (the hard negative
    // — close in embedding space yet semantically wrong, exactly the
    // pair a contrastive loss learns most from). One pass over v1's
    // top-10 with two broadcast label joins; argmins via min(struct)
    // on the unique rank so selection is deterministic; struct fields
    // projected to scalars (the driver's hash compares scalars only).
    Query("v18_hard_negatives", (s, d) => {
      val lab = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      val r = SparkEntry.queries("v1_cosine_topk")(s, d)
        .select("id_q", "id_n", "rank")
        .join(broadcast(lab.select(col("vec_id").as("id_q"),
          col("label").as("label_q"))), Seq("id_q"))
        .join(broadcast(lab.select(col("vec_id").as("id_n"),
          col("label").as("label_n"))), Seq("id_n"))
      val same = col("label_q") === col("label_n")
      r.groupBy("id_q").agg(
          min(when(same, struct(col("rank"), col("id_n")))).as("p"),
          min(when(!same, struct(col("rank"), col("id_n")))).as("n"))
        .select(col("id_q"),
          col("p.id_n").as("pos_id"), col("p.rank").as("pos_rank"),
          col("n.id_n").as("neg_id"), col("n.rank").as("neg_rank"))
    },
      // v18: v1's chain + label joins; arg_min on the unique rank.
      s"""WITH $preparedSql,
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5),
         |tk AS (SELECT id_q, id_n, rank FROM (
         |      SELECT *, row_number() OVER (PARTITION BY id_q
         |        ORDER BY cos DESC, id_n) AS rank FROM p)
         |      WHERE rank <= 10),
         |rl AS (SELECT tk.id_q, tk.id_n, tk.rank,
         |      lq.label = ln_.label AS same
         |      FROM tk JOIN embeddings lq ON tk.id_q = lq.vec_id
         |        JOIN embeddings ln_ ON tk.id_n = ln_.vec_id)
         |SELECT id_q,
         |  arg_min(id_n, rank) FILTER (WHERE same) AS pos_id,
         |  min(rank) FILTER (WHERE same) AS pos_rank,
         |  arg_min(id_n, rank) FILTER (WHERE NOT same) AS neg_id,
         |  min(rank) FILTER (WHERE NOT same) AS neg_rank
         |FROM rl GROUP BY 1""".stripMargin,
      reads = Seq(prep)),

    // MMR diversified re-ranking (λ=0.7) — the diversity-aware
    // selection step between retrieval and consumption (dedup-aware
    // few-shot sampling, result diversification): from v1's exact
    // top-10 per probe, select 5 greedily by score = 0.7·relevance −
    // 0.3·max-sim-to-already-selected. The greedy recursion is
    // UNROLLED to a fixed depth of 5 deterministic argmax steps on
    // both engines (a fixed-round fold, like GraphOps.labelPropagation
    // — no fixpoint probe): each step scores the remaining candidates
    // against the bounded pairwise sims (candidate cosines, ≤ k² rows
    // per probe, computed once and lineage-cut) and takes the argmax
    // with the id tiebreak. All scores derive from 6dp-rounded
    // cosines through the literal 0.7/0.3 weights in identical
    // operand order — bit-equal, so the greedy path cannot diverge.
    // The expensive part is v1 itself; selection runs on O(probes·k²).
    Query("v17_mmr_diversity", (s, d) => {
      val p = prep(s, d)
      val c = VectorOps.bruteForceTopK(p, p.filter(col("id") < 5), 10)
        .select(col("id_q"), col("id_n"), col("cos"))
        .localCheckpoint(eager = false)
      val va = p.select(col("id").as("id_a"), col("v").as("v_a"),
        col("n2").as("n2_a"))
      val vb = p.select(col("id").as("id_b"), col("v").as("v_b"),
        col("n2").as("n2_b"))
      val sims = c.select(col("id_q"), col("id_n").as("id_a"))
        .join(c.select(col("id_q"), col("id_n").as("id_b")),
          Seq("id_q"))
        .filter(col("id_a") =!= col("id_b"))
        .join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .select(col("id_q"), col("id_a"), col("id_b"),
          round(VectorOps.cosineFromParts(
            VectorOps.dot(col("v_a"), col("v_b")),
            col("n2_a"), col("n2_b")), 6).as("sim"))
      // OPT r18 (guide §1.2 step 1 / §2.4): the greedy recursion used to
      // run as 4 materialized stages (anti-join + sims join + hash-agg +
      // window argmax + union + checkpoint each) — ~41 scheduled jobs
      // selecting 5 of ≤10 candidates per probe. The per-probe state is
      // bounded (k candidates + k² pairwise sims), so the whole greedy
      // unroll folds into ONE projection: pack each probe's candidates
      // and sim map into a row, then run steps 2..5 as an
      // aggregate(sequence(...)) over a (selected, remaining) state.
      // Each step scores remaining candidates with the identical
      // arithmetic (0.7·cos − 0.3·max-sim-to-selected; max over doubles
      // is order-free) and picks the argmax through an array_sort on
      // (−score, id_n) — the same (score desc, id_n asc) total order the
      // window used, on the same 6dp-rounded doubles — so the greedy
      // path cannot diverge and the oracle hash is unchanged. ~8 jobs
      // instead of ~41; the expensive part (v1's exact search) is
      // untouched.
      val candPack = c.groupBy("id_q")
        .agg(array_sort(collect_list(struct(col("id_n"), col("cos"))))
          .as("cand"))
      val simPack = sims.groupBy("id_q")
        .agg(map_from_entries(collect_list(struct(
          struct(col("id_a"), col("id_b")).as("k"), col("sim").as("v"))))
          .as("sm"))
      // ADVICE r18: LEFT join — a probe with exactly one candidate has
      // no sim pairs and an inner join dropped its rank-1 row (masked
      // today because bruteForceTopK always yields k candidates; the
      // fold below never consults a NULL sm because its steps are
      // size-guarded and an empty `rem` transforms nothing).
      val joined = candPack.join(simPack, Seq("id_q"), "left")
      def pairKey(a: Column, b: Column): Column =
        struct(a.as("id_a"), b.as("id_b"))
      val first = element_at(array_sort(transform(col("cand"), r =>
        struct((-r.getField("cos")).as("ns"),
          r.getField("id_n").as("id_n"),
          r.getField("cos").as("cos")))), 1)
      val state0 = struct(
        array(struct(first.getField("id_n").as("id_n"),
          lit(1L).as("sel_rank"),
          first.getField("cos").as("score"))).as("sel"),
        filter(col("cand"),
          r => r.getField("id_n") =!= first.getField("id_n")).as("rem"))
      val folded = aggregate(sequence(lit(2), lit(5)), state0, (st, k) => {
        val sel = st.getField("sel")
        val rem = st.getField("rem")
        val scored = transform(rem, r => {
          val ms = array_max(transform(sel, sp => element_at(col("sm"),
            pairKey(r.getField("id_n"), sp.getField("id_n")))))
          val score = lit(0.7) * r.getField("cos") - lit(0.3) * ms
          struct((-score).as("ns"), r.getField("id_n").as("id_n"),
            r.getField("cos").as("cos"), score.as("score"))
        })
        val pick = element_at(array_sort(scored), 1)
        // ADVICE r18: a probe with < 5 candidates exhausts `rem` before
        // the horizon; unguarded, element_at on the empty sort returns
        // NULL (non-ANSI) and the fold would append a null-id struct.
        // Keep the prior state for those steps instead — a no-op for
        // every probe with the full k candidates (the current data).
        when(size(rem) > 0, struct(
          concat(sel, array(struct(pick.getField("id_n").as("id_n"),
            k.cast("long").as("sel_rank"),
            pick.getField("score").as("score")))).as("sel"),
          filter(rem, r =>
            r.getField("id_n") =!= pick.getField("id_n")).as("rem")))
          .otherwise(st)
      })
      joined.select(col("id_q"), explode(folded.getField("sel")).as("s"))
        .select(col("id_q"), col("s.id_n").as("id_n"),
          col("s.sel_rank").as("sel_rank"),
          round(col("s.score"), 6).as("score"))
    },
      // v17: the 5 greedy stages unrolled by the same Scala loop shape
      // as the Spark side; p0/sims MATERIALIZED (referenced per stage).
      {
      val steps = (2 to 5).map { k =>
        s"""rem$k AS (SELECT p0.* FROM p0 LEFT JOIN sel${k - 1} s
           |    ON p0.id_q = s.id_q AND p0.id_n = s.id_n
           |  WHERE s.id_n IS NULL),
           |ms$k AS (SELECT r.id_q, r.id_n, r.cos, max(si.sim) AS maxsim
           |  FROM rem$k r JOIN sims si
           |    ON si.id_q = r.id_q AND si.id_a = r.id_n
           |  JOIN sel${k - 1} s
           |    ON s.id_q = si.id_q AND s.id_n = si.id_b
           |  GROUP BY 1, 2, 3),
           |s$k AS (SELECT id_q, id_n, $k AS sel_rank, score FROM (
           |  SELECT id_q, id_n, 0.7 * cos - 0.3 * maxsim AS score,
           |    row_number() OVER (PARTITION BY id_q
           |      ORDER BY 0.7 * cos - 0.3 * maxsim DESC, id_n) AS rn
           |  FROM ms$k) WHERE rn = 1),
           |sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1}
           |  UNION ALL SELECT * FROM s$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH $preparedSql,
         |pr AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5),
         |p0 AS MATERIALIZED (SELECT id_q, id_n, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rank FROM pr)
         |  WHERE rank <= 10),
         |sims AS MATERIALIZED (SELECT ca.id_q, ca.id_n AS id_a,
         |      cb.id_n AS id_b,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS sim
         |  FROM p0 ca JOIN p0 cb
         |    ON ca.id_q = cb.id_q AND ca.id_n <> cb.id_n
         |  JOIN n a ON a.vec_id = ca.id_n
         |  JOIN n b ON b.vec_id = cb.id_n),
         |sel1 AS MATERIALIZED (SELECT id_q, id_n, 1 AS sel_rank,
         |    cos AS score
         |  FROM (SELECT p0.*, row_number() OVER (PARTITION BY id_q
         |    ORDER BY cos DESC, id_n) AS rn FROM p0) WHERE rn = 1),
         |$steps
         |SELECT id_q, id_n, CAST(sel_rank AS BIGINT) AS sel_rank,
         |  round(score, 6) AS score
         |FROM sel5""".stripMargin
    },
      reads = Seq(prep)),

    // Per-dimension feature standardization (z-scoring) — the ML
    // preprocessing step every embedding/tabular pipeline runs before
    // training: each dimension centered and scaled by its corpus
    // mean/std. Determinism via the dq6 exact-moment discipline:
    // values quantize to milli-units, per-dim (n, Σx, Σx²) are exact
    // BIGINTs (bounded through ~sf10 at this range; coarser grain
    // beyond, as dq6 documents), and z = (n·x − Σx)/√(n·Σx² − (Σx)²)
    // clears every rational denominator so both engines divide the
    // SAME exact integers (z is scale-invariant, so the quantization
    // grain cancels). Zero-variance dims z-score to 0 (guarded).
    // Output is the per-vector Σz² through a pos-sorted fold — the
    // whole normalize path checked in one scalar per vector. Shape:
    // one posexplode + one 32-row stats agg broadcast back + one
    // per-vector agg.
    Query("v16_standardize", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
          floor(col("col").cast("double") * 1000).cast("long").as("xq"))
      val stats = e.groupBy("pos").agg(count(lit(1)).as("n"),
          sum(col("xq")).as("sq"),
          sum(col("xq") * col("xq")).as("sqq"))
        .withColumn("den", col("n") * col("sqq") - col("sq") * col("sq"))
      val z = when(col("den") > 0,
        (col("n") * col("xq") - col("sq")).cast("double") /
          sqrt(col("den").cast("double"))).otherwise(lit(0.0))
      e.join(broadcast(stats), Seq("pos"))
        .select(col("vec_id"), col("pos"), z.as("z"))
        .groupBy("vec_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("z"))))
          .as("cells"))
        .select(col("vec_id"),
          round(aggregate(col("cells"), lit(0.0), (a, c) =>
            a + c.getField("z") * c.getField("z")), 6).as("ssq_z"))
    },
      // v16: same quantized moments, same cleared-denominator z, same
      // pos-ordered fold of z².
      """WITH b AS (SELECT vec_id,
        |    unnest(range(len(embedding))) AS pos, embedding
        |  FROM embeddings),
        |e AS (SELECT vec_id, pos,
        |    CAST(floor(CAST(embedding[pos + 1] AS DOUBLE) * 1000)
        |      AS BIGINT) AS xq
        |  FROM b),
        |st AS (SELECT pos, count(*) AS n,
        |    CAST(sum(xq) AS BIGINT) AS sq,
        |    CAST(sum(xq * xq) AS BIGINT) AS sqq
        |  FROM e GROUP BY 1),
        |sd AS (SELECT pos, n, sq, n * sqq - sq * sq AS den FROM st),
        |z AS (SELECT vec_id, pos,
        |    CASE WHEN den > 0 THEN CAST(n * xq - sq AS DOUBLE)
        |      / sqrt(CAST(den AS DOUBLE)) ELSE 0.0 END AS z
        |  FROM e JOIN sd USING (pos)),
        |g AS (SELECT vec_id, list(z * z ORDER BY pos) AS zs
        |  FROM z GROUP BY 1)
        |SELECT vec_id,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), zs),
        |    (a, x) -> a + x), 6) AS ssq_z
        |FROM g""".stripMargin),

    // IVF OPERATING CURVE — v8 gates one configuration; this measures
    // the knob: recall vs scan cost at nProbe = 1/2/3, the table an
    // ANN deployment reads to pick its operating point (each arm's
    // n_scanned is the exact number of probe×corpus comparisons the
    // routed cells admit, self-pairs excluded — the cost that scales
    // as nProbe×cellSize at 100 TB while exact search scales as n).
    // Probe routing ranks by UNROUNDED cosine with centroid-id
    // tiebreak (v4's convention), so every arm is deterministic on
    // both engines.
    Query("v19_ivf_tradeoff", (s, d) => {
      val p = prep(s, d)
      val probes = p.filter(col("id") < 5)
      val exact = VectorOps.bruteForceTopK(p, probes, 5)
        .select(col("id_q"), col("id_n"))
      val corpusCells = v19CorpusCells(s, d)
      val cellSizes = corpusCells.groupBy("centroid_id")
        .agg(count(lit(1)).as("cell_n"))
      val selfCell = corpusCells.filter(col("id_n") < 5)
        .select(col("id_n").as("id_q"),
          col("centroid_id").as("self_cell"))
      // route ONCE at the largest nProbe with ranks; every arm is a
      // rk <= np filter over the SAME routed frame and the SAME pair
      // join (each corpus vector lives in one cell, so a pair carries
      // the rank of the probe-route to its cell) — 3 arms, 1 routing,
      // 1 cosine join (v19Pairs, shared/persisted), exactly the
      // oracle's CTE shape
      val routed = v19Routed(s, d)
      val pairs = v19Pairs(s, d)
      val scanCost = routed
        .join(broadcast(cellSizes), Seq("centroid_id"))
        .join(broadcast(selfCell), Seq("id_q"))
        .select(col("rk"), (col("cell_n") -
          when(col("centroid_id") === col("self_cell"), 1L)
            .otherwise(0L)).as("c"))
      // OPT r18 (guide §1.2 step 1 / §2.4): the three arms used to be
      // three unioned sub-plans, each re-filtering the routed pairs,
      // re-running the top-5 window, re-joining the exact truth and
      // re-aggregating the scan cost — the `exact` brute-force subtree
      // executed once PER ARM and the union scheduled ~49 jobs. An arm
      // is a monotone rk ≤ np filter, so all three compute in ONE pass:
      // each pair/cost row explodes to the probe widths it is visible
      // at (np ∈ rk..3 — ≤3× a tiny frame), one window ranks all arms'
      // candidates, one agg counts hits per arm, and the scan cost
      // folds as three conditional sums (sum-over-subset ≡ the old
      // filter+sum, including the null-on-empty case: `when` without
      // `otherwise`). Same math per arm ⇒ identical rows; ~8 jobs
      // instead of ~49, and the exact-truth subtree runs once.
      val nps = Seq(1, 2, 3)
      val scanned = scanCost.agg(
        sum(when(col("rk") <= 1, col("c"))).as("s1"),
        sum(when(col("rk") <= 2, col("c"))).as("s2"),
        sum(when(col("rk") <= 3, col("c"))).as("s3"))
      val scannedRows = scanned.select(explode(array(nps.map(np =>
          struct(lit(np.toLong).as("np"),
            col(s"s$np").as("n_scanned"))): _*)).as("x"))
        .select(col("x.np").as("np"), col("x.n_scanned").as("n_scanned"))
      val cand = VectorOps.rankPerProbe(
          pairs.select(col("id_q"), col("id_n"), col("cos"),
            explode(sequence(col("rk").cast("long"), lit(3L))).as("np")),
          col("cos").desc, 5, by = Seq("np"))
        .select(col("np"), col("id_q"), col("id_n"), lit(1L).as("hit"))
      val ex3 = exact.select(col("id_q"), col("id_n"),
        explode(array(nps.map(np => lit(np.toLong)): _*)).as("np"))
      ex3.join(cand, Seq("np", "id_q", "id_n"), "left")
        .groupBy("np")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .join(broadcast(scannedRows), Seq("np"))
        .select(col("np").as("nprobe"), col("n_truth"),
          col("n_hits"), col("n_scanned"))
    },
      // v19: v4's IVF machinery shared across three nProbe arms (each
      // corpus vector lives in exactly one cell, so a pair carries the
      // rk of the probe-route to its cell and arms just filter rk);
      // exact top-5 truth, left-join hit counts, and the routed-cell
      // scan cost with self-pair exclusion.
      {
      def armSql(np: Int): String =
        s"""SELECT CAST($np AS BIGINT) AS nprobe,
           |  (SELECT count(*) FROM ex) AS n_truth,
           |  (SELECT count(c.id_q) FROM ex LEFT JOIN
           |    (SELECT id_q, id_n FROM (SELECT id_q, id_n,
           |      row_number() OVER (PARTITION BY id_q
           |        ORDER BY cos DESC, id_n) AS rank
           |      FROM pairs WHERE rk <= $np) WHERE rank <= 5) c
           |    ON ex.id_q = c.id_q AND ex.id_n = c.id_n) AS n_hits,
           |  (SELECT CAST(sum(cz.cell_n - CASE
           |      WHEN pr.centroid_id = sc.self_cell THEN 1 ELSE 0 END)
           |    AS BIGINT)
           |   FROM pr JOIN cz ON cz.centroid_id = pr.centroid_id
           |   JOIN sc ON sc.id_q = pr.id_q
           |   WHERE pr.rk <= $np) AS n_scanned""".stripMargin
      s"""WITH $preparedSql,
         |cent AS (SELECT vec_id AS centroid_id, v, n2 FROM n
         |      WHERE vec_id < 10),
         |ca AS (SELECT id_n, centroid_id FROM (
         |      SELECT a.vec_id AS id_n, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true)
         |      WHERE rk = 1),
         |cz AS (SELECT centroid_id, count(*) AS cell_n FROM ca
         |      GROUP BY 1),
         |sc AS (SELECT id_n AS id_q, centroid_id AS self_cell FROM ca
         |      WHERE id_n < 5),
         |pr AS (SELECT id_q, centroid_id, rk FROM (
         |      SELECT a.vec_id AS id_q, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true
         |      WHERE a.vec_id < 5)
         |      WHERE rk <= 3),
         |pairs AS (SELECT pr.id_q, ca.id_n, pr.rk,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |      FROM pr
         |      JOIN ca ON true
         |        AND ca.centroid_id = pr.centroid_id
         |      JOIN n a ON a.vec_id = pr.id_q
         |      JOIN n b ON b.vec_id = ca.id_n
         |      WHERE ca.id_n <> pr.id_q),
         |ex AS (SELECT id_q, id_n FROM (
         |  SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round($dotSql / sqrt(a.n2 * b.n2), 6) DESC,
         |        b.vec_id) AS rank
         |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 5)
         |  WHERE rank <= 5)
         |${armSql(1)}
         |UNION ALL
         |${armSql(2)}
         |UNION ALL
         |${armSql(3)}""".stripMargin
    },
      reads = Seq(prep, v19Pairs)),

    // FILTERED ANN (VERDICT r16 #5) — predicate + similarity search
    // combined, the most common production vector workload: "nearest
    // neighbors among documents WHERE <metadata predicate>". The
    // pre/post-filter policy is the real decision an engine makes, and
    // it is chosen here FROM THE STATS CATALOG, not measured per
    // query: for an equality/in-list predicate on the label key the
    // catalog's (rows, ndv) give the uniform-assumption estimate
    // est = nvals·rows/ndv, and
    //  - LOW selectivity (est ≤ rows/4) → PRE-FILTER: filter the
    //    corpus first and search exactly — the filtered set is small
    //    enough that brute top-k over it beats fixing up an index scan
    //    (and is exact by construction, the honest property);
    //  - HIGH selectivity → POST-FILTER over the IVF index, with the
    //    PROBE WIDENING correction: filtered-out candidates shrink a
    //    cell's usable answers, so nProbe = min(3, ceil(2·ndv/nvals))
    //    widens the base-2 probe as the estimated pass rate drops.
    // Both arms report the catalog-derived decision columns, the
    // actual filtered-corpus size, and the recall of the served
    // answer against the FILTERED exact truth (d24's discipline) —
    // the oracle recomputes the estimates from count distinct (the
    // KMV NDV is exact under its buffer at these cardinalities), the
    // routing from v4's exact CTE shapes, and every count.
    Query("v22_filtered_ann", (s, d) => {
      import graft.storage.StatsCatalog
      val p = prep(s, d)
      val probes = p.filter(col("id") < 5)
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id").as("id_n"),
          col("label").cast("long").as("lbl"))
      val st = StatsCatalog.readOrAnalyze(s, d, "embeddings",
        Tables.embeddings(s, d), "label").stats
      def arm(name: String, pred: Column, nvals: Long): DataFrame = {
        val estRows = nvals * st.rows / st.ndv
        val prefilter = estRows * 4L <= st.rows
        val nProbe = if (prefilter) 0L
          else math.min(3L, (2L * st.ndv + nvals - 1L) / nvals)
        val corpusF = p.join(labels, col("id") === col("id_n"))
          .filter(pred).select(col("id"), col("v"), col("n2"))
        val truth = VectorOps.bruteForceTopK(corpusF, probes, 5)
          .select("id_q", "id_n")
        val hits =
          if (prefilter)
            // the pre-filter arm SERVES the filtered exact answer —
            // recall 1 by construction, reported as such
            truth.agg(count(lit(1)).as("n_truth"),
              count(lit(1)).as("n_hits"))
          else {
            val cand = VectorOps.rankPerProbe(
                VectorOps.ivfCandidates(p, probes, p.filter(col("id") < 10),
                    nProbe.toInt)
                  .join(labels, Seq("id_n")).filter(pred)
                  .select(col("id_q"), col("id_n"),
                    VectorOps.Cosine.expr.as("cos")),
                col("cos").desc, 5)
              .select(col("id_q"), col("id_n"), lit(1L).as("hit"))
            truth.join(cand, Seq("id_q", "id_n"), "left")
              .agg(count(lit(1)).as("n_truth"),
                count(col("hit")).as("n_hits"))
          }
        hits
          .crossJoin(broadcast(corpusF
            .agg(count(lit(1)).as("rows_pass"))))
          .select(lit(name).as("pred"),
            lit(if (prefilter) "prefilter" else "postfilter_ivf")
              .as("policy"),
            lit(nProbe).as("n_probe"), lit(estRows).as("est_rows"),
            col("rows_pass"), col("n_truth"), col("n_hits"),
            round(col("n_hits").cast("double") /
              col("n_truth").cast("double"), 6).as("recall"))
      }
      arm("label=7", col("lbl") === 7L, 1L)
        .unionByName(arm("label<>7", col("lbl") =!= 7L, 9L))
    },
      // v22: the catalog estimates recomputed from count distinct (the
      // KMV NDV is exact at label cardinality), the policy/widening CASE
      // arms from the same integer arithmetic as the Spark side, the
      // pre-filter arm as the filtered exact top-5 (recall 1 by
      // construction), and the post-filter arm through v4's exact
      // routing CTEs with the label predicate applied to candidates.
      s"""WITH $preparedSql,
         |lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl
         |  FROM embeddings),
         |st AS (SELECT count(*) AS nr, count(DISTINCT label) AS ndv
         |  FROM embeddings),
         |q5 AS (SELECT * FROM n WHERE vec_id < 5),
         |exA AS (SELECT id_q, id_n FROM (
         |  SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round($dotSql / sqrt(a.n2 * b.n2), 6) DESC,
         |        b.vec_id) AS rank
         |  FROM q5 a JOIN n b ON b.vec_id <> a.vec_id
         |  JOIN lbl ON lbl.vec_id = b.vec_id AND lbl.lbl = 7) q
         |  WHERE rank <= 5),
         |exB AS (SELECT id_q, id_n FROM (
         |  SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round($dotSql / sqrt(a.n2 * b.n2), 6) DESC,
         |        b.vec_id) AS rank
         |  FROM q5 a JOIN n b ON b.vec_id <> a.vec_id
         |  JOIN lbl ON lbl.vec_id = b.vec_id AND lbl.lbl <> 7) q
         |  WHERE rank <= 5),
         |cent AS (SELECT vec_id AS centroid_id, v, n2 FROM n
         |  WHERE vec_id < 10),
         |ca AS (SELECT id_n, centroid_id FROM (
         |  SELECT a.vec_id AS id_n, b.centroid_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |        b.centroid_id) AS rk
         |  FROM n a JOIN cent b ON true) q WHERE rk = 1),
         |npb AS (SELECT least(3, (2 * ndv + 9 - 1) // 9) AS np FROM st),
         |pr AS (SELECT id_q, centroid_id FROM (
         |  SELECT a.vec_id AS id_q, b.centroid_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |        b.centroid_id) AS rk
         |  FROM q5 a JOIN cent b ON true) q, npb WHERE q.rk <= npb.np),
         |cand0 AS (SELECT pr.id_q, ca.id_n
         |  FROM pr JOIN ca ON ca.centroid_id = pr.centroid_id),
         |candF AS (SELECT c.id_q, c.id_n FROM cand0 c
         |  JOIN lbl ON lbl.vec_id = c.id_n AND lbl.lbl <> 7
         |  WHERE c.id_n <> c.id_q),
         |candB AS (SELECT id_q, id_n FROM (
         |  SELECT c.id_q, c.id_n, row_number() OVER (PARTITION BY c.id_q
         |      ORDER BY round($dotSql / sqrt(a.n2 * b.n2), 6) DESC,
         |        c.id_n) AS rank
         |  FROM candF c
         |  JOIN n a ON a.vec_id = c.id_q
         |  JOIN n b ON b.vec_id = c.id_n) q WHERE rank <= 5),
         |hitB AS (SELECT count(*) AS n_truth, count(candB.id_q) AS n_hits
         |  FROM exB LEFT JOIN candB
         |    ON candB.id_q = exB.id_q AND candB.id_n = exB.id_n),
         |rA AS (SELECT count(*) AS rows_pass FROM lbl WHERE lbl = 7),
         |rB AS (SELECT count(*) AS rows_pass FROM lbl WHERE lbl <> 7),
         |hA AS (SELECT count(*) AS n FROM exA)
         |SELECT 'label=7' AS pred,
         |  CASE WHEN (1 * st.nr // st.ndv) * 4 <= st.nr
         |    THEN 'prefilter' ELSE 'postfilter_ivf' END AS policy,
         |  CAST(CASE WHEN (1 * st.nr // st.ndv) * 4 <= st.nr THEN 0
         |    ELSE least(3, 2 * st.ndv) END AS BIGINT) AS n_probe,
         |  CAST(1 * st.nr // st.ndv AS BIGINT) AS est_rows,
         |  rA.rows_pass, hA.n AS n_truth, hA.n AS n_hits,
         |  round(CAST(hA.n AS DOUBLE) / hA.n, 6) AS recall
         |FROM st, rA, hA
         |UNION ALL
         |SELECT 'label<>7',
         |  CASE WHEN (9 * st.nr // st.ndv) * 4 <= st.nr
         |    THEN 'prefilter' ELSE 'postfilter_ivf' END,
         |  CAST(CASE WHEN (9 * st.nr // st.ndv) * 4 <= st.nr THEN 0
         |    ELSE npb.np END AS BIGINT),
         |  CAST(9 * st.nr // st.ndv AS BIGINT),
         |  rB.rows_pass, hitB.n_truth, hitB.n_hits,
         |  round(CAST(hitB.n_hits AS DOUBLE) / hitB.n_truth, 6)
         |FROM st, npb, rB, hitB""".stripMargin,
      reads = Seq(prep)),

    // Cluster-quality gate for the deterministic k-means stack — the
    // centroid-based (simplified) SILHOUETTE per cluster: a(i) =
    // distance to the OWN (nearest) centroid, b(i) = distance to the
    // runner-up, s(i) = 1 − √a²/√b² (the (b−a)/max(a,b) form with
    // b ≥ a by construction, so s ∈ [0,1]). Routing reuses v7's exact
    // chain (seeded codebook + one fixed-point Lloyd step) through the
    // ranked top-2 assignment, so the gate grades the SAME clustering
    // d23/v3 route with — the measured-quality discipline (d20/d24/
    // v8) extended to cluster geometry. Per-vector scores are
    // bit-identical doubles (sqrt and / are IEEE-correctly-rounded
    // over v7's pinned distances), then fixed-point-floored (1e6) to
    // exact Longs so the per-cluster mean is an ORDER-FREE exact sum —
    // the dq6 integer-moments discipline; a sorted-fold mean would
    // carry O(cluster) driver-visible state where this carries one
    // Long per cluster. K output rows at any corpus scale.
    Query("v20_silhouette", (s, d) => {
      val x = prep(s, d).select(col("id"), col("v"))
      val cent0 = x.filter(col("id") < 5)
        .select(col("id").as("cid"), col("v").as("c"))
      val c1 = VectorOps.centroidMeans(
        VectorOps.routeToCentroids(x, cent0, 1)(VectorOps.euclidDistance))
      val two = VectorOps.routeToCentroids(x, c1, 2)(
          VectorOps.euclidDistance)
        .groupBy("id").agg(
          max(when(col("rk") === 1, col("cid"))).as("cluster"),
          max(when(col("rk") === 1, col("dist"))).as("d2a"),
          max(when(col("rk") === 2, col("dist"))).as("d2b"))
      val si = when(col("d2b") > 0.0,
        lit(1.0) - sqrt(col("d2a")) / sqrt(col("d2b")))
        .otherwise(lit(0.0))
      two.select(col("cluster"),
          floor(si * lit(1000000.0)).cast("long").as("fx"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum(col("fx")).as("sfx"))
        .select(col("cluster"), col("n_vecs"),
          round(col("sfx").cast("double") /
            (col("n_vecs") * lit(1000000L)).cast("double"), 6)
            .as("mean_sil"))
    },
      // v20: v7's exact chain through the ranked top-2 assignment, then
      // the fixed-point silhouette ledger (same floor(·1e6) pinning as
      // the Spark side, same CASE shape for the zero-distance guard).
      s"""WITH $preparedSql,
         |c0 AS (SELECT vec_id AS cid, v AS c FROM d WHERE vec_id < 5),
         |a0 AS MATERIALIZED (SELECT vec_id, v, cid FROM (
         |  SELECT a.vec_id, a.v, c.cid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $euclid2Sql, c.cid) AS rk
         |  FROM d a CROSS JOIN c0 c) WHERE rk = 1),
         |e AS (SELECT cid, unnest(list_transform(range(len(v)),
         |    i -> struct_pack(pos := i,
         |      fx := CAST(floor(v[i+1] * 1000000.0) AS BIGINT)))) AS u
         |  FROM a0),
         |g AS (SELECT cid, u.pos AS pos, sum(u.fx) AS sfx, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |c1 AS MATERIALIZED (SELECT cid, list_transform(list_sort(list(
         |    struct_pack(pos := pos, ci := CAST(sfx AS DOUBLE)
         |      / CAST(n * 1000000 AS DOUBLE)))), s -> s.ci) AS c
         |  FROM g GROUP BY cid),
         |a2 AS (SELECT vec_id, cid, d2, rk FROM (
         |  SELECT a.vec_id, c.cid, $euclid2Sql AS d2,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $euclid2Sql, c.cid) AS rk
         |  FROM d a CROSS JOIN c1 c) WHERE rk <= 2),
         |pv AS (SELECT vec_id,
         |    max(CASE WHEN rk = 1 THEN cid END) AS cluster,
         |    max(CASE WHEN rk = 1 THEN d2 END) AS d2a,
         |    max(CASE WHEN rk = 2 THEN d2 END) AS d2b
         |  FROM a2 GROUP BY vec_id),
         |fx AS (SELECT cluster, CAST(floor((CASE WHEN d2b > 0.0
         |      THEN 1.0 - sqrt(d2a) / sqrt(d2b) ELSE 0.0 END)
         |      * 1000000.0) AS BIGINT) AS fx
         |  FROM pv)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  round(CAST(sum(fx) AS DOUBLE)
         |    / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_sil
         |FROM fx GROUP BY cluster""".stripMargin,
      reads = Seq(prep)),

    // PQ/ADC recall gate — the v8 measured-quality discipline applied
    // to v14's 8-byte codes: exact L2 top-5 per probe (the metric ADC
    // approximates — NOT v1's cosine truth) laid beside the ADC
    // top-5, per-probe hit counts. This is the number that decides
    // whether 8-byte codes are enough or the deployment needs 16 —
    // the compression/recall trade a 100 TB ANN scan is priced on.
    // Exact arm: corpus × 5 broadcast probes (corpus never shuffles),
    // ranked on the UNROUNDED fold-exact distance with id tiebreak
    // (the v7 determinism law).
    Query("v21_pq_recall", (s, d) => {
      val p = prep(s, d)
      val probes = p.filter(col("id") < 5)
        .select(col("id").as("id_q"), col("v").as("vq"))
      val pairs = p.select(col("id").as("id_n"), col("v").as("vn"))
        .crossJoin(broadcast(probes))
        .select(col("id_q"), col("id_n"),
          VectorOps.euclid2(col("vq"), col("vn")).as("d2"))
      val truth = VectorOps.rankPerProbe(pairs, col("d2").asc, 5)
        .select(col("id_q"), col("id_n"))
      val adc = SparkEntry.queries("v14_pq_adc")(s, d)
        .select(col("id_q"), col("id_n"), lit(1L).as("hit"))
      truth.join(adc, Seq("id_q", "id_n"), "left")
        .groupBy("id_q")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .select(col("id_q"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"))
    },
      // v21: the same PQ chain's top-5 vs exact L2 truth (ADC
      // approximates squared L2, so the truth arm is the UNROUNDED
      // fold-exact euclidean rank, not v1's cosine)
      s"""WITH $pqChainSql,
         |ex AS (SELECT id_q, id_n FROM (
         |  SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(len(a.v)),
         |          i -> (a.v[i+1] - b.v[i+1]) * (a.v[i+1] - b.v[i+1]))),
         |        (x, y) -> x + y), b.vec_id) AS rk
         |  FROM d a JOIN d b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 5) WHERE rk <= 5),
         |adc AS (SELECT id_q, id_n FROM r WHERE rank <= 5)
         |SELECT ex.id_q, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(count(adc.id_n) AS BIGINT) AS n_hits,
         |  round(CAST(count(adc.id_n) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM ex LEFT JOIN adc
         |  ON adc.id_q = ex.id_q AND adc.id_n = ex.id_n
         |GROUP BY ex.id_q""".stripMargin,
      reads = Seq(pqCodes, prep)),

    Query("v8_ann_recall", (s, d) => {
      val exact = SparkEntry.queries("v1_cosine_topk")(s, d)
        .select("id_q", "id_n")
      def recallOf(cand: DataFrame, method: String): DataFrame =
        exact.join(
            cand.select(col("id_q"), col("id_n"), lit(1L).as("hit")),
            Seq("id_q", "id_n"), "left")
          .groupBy("id_q").agg(count(col("hit")).as("n_hits"))
          .select(lit(method).as("method"), col("id_q"), col("n_hits"))
      recallOf(SparkEntry.queries("v2_ann_lsh")(s, d), "lsh")
        .unionAll(recallOf(SparkEntry.queries("v4_ivf_topk")(s, d), "ivf"))
    },
      // v8 recomputes the exact top-10 (ex), the LSH top-5 (lsh), and the
      // IVF top-5 (ivf) with the same CTE bodies as the v1/v2/v4 oracles,
      // then counts per-probe hits — count over a LEFT join so probes
      // with zero overlap still get a row (n_hits = 0), which is exactly
      // the collapse the gate exists to surface.
      s"""WITH $preparedSql,
         |ex AS (SELECT id_q, id_n FROM (
         |  SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round($dotSql / sqrt(a.n2 * b.n2), 6) DESC,
         |        b.vec_id) AS rank
         |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 5) WHERE rank <= 10),
         |cb AS ($bandSelects),
         |lsh AS (SELECT id_q, id_n FROM (
         |  SELECT id_q, id_n, row_number() OVER (PARTITION BY id_q
         |      ORDER BY cos DESC, id_n) AS rank FROM (
         |    SELECT DISTINCT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |    FROM cb a JOIN cb b ON a.band = b.band
         |      AND a.bucket = b.bucket AND b.vec_id <> a.vec_id
         |    WHERE a.vec_id < 5)) WHERE rank <= 5),
         |cent AS (SELECT vec_id AS centroid_id, v, n2 FROM n
         |      WHERE vec_id < 10),
         |ca AS (SELECT id_n, centroid_id FROM (
         |      SELECT a.vec_id AS id_n, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true) WHERE rk = 1),
         |pr AS (SELECT id_q, centroid_id FROM (
         |      SELECT a.vec_id AS id_q, b.centroid_id,
         |        row_number() OVER (PARTITION BY a.vec_id
         |          ORDER BY $dotSql / sqrt(a.n2 * b.n2) DESC,
         |            b.centroid_id) AS rk
         |      FROM n a JOIN cent b ON true
         |      WHERE a.vec_id < 5) WHERE rk <= 3),
         |ivf AS (SELECT id_q, id_n FROM (
         |  SELECT id_q, id_n, row_number() OVER (PARTITION BY id_q
         |      ORDER BY cos DESC, id_n) AS rank FROM (
         |    SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |    FROM pr
         |    JOIN n a ON a.vec_id = pr.id_q
         |    JOIN ca ON ca.centroid_id = pr.centroid_id
         |    JOIN n b ON b.vec_id = ca.id_n
         |    WHERE b.vec_id <> a.vec_id)) WHERE rank <= 5)
         |SELECT 'lsh' AS method, e.id_q, count(l.id_n) AS n_hits
         |FROM ex e LEFT JOIN lsh l
         |  ON e.id_q = l.id_q AND e.id_n = l.id_n
         |GROUP BY e.id_q
         |UNION ALL
         |SELECT 'ivf' AS method, e.id_q, count(i.id_n) AS n_hits
         |FROM ex e LEFT JOIN ivf i
         |  ON e.id_q = i.id_q AND e.id_n = i.id_n
         |GROUP BY e.id_q""".stripMargin,
      reads = Seq(prep)),

    // Symmetric int8 embedding quantization — the compression step a
    // 100 TB ANN index runs before storing vectors (4x memory/IO vs
    // float32; IVF/LSH candidate generation is unchanged, exact
    // re-ranking dequantizes). Per vector: scale = 127/max|x_i|,
    // q_i = floor(x_i·scale + 0.5) (round-half-up — floor-based
    // because round()'s half-even vs half-away behavior differs across
    // engines), dequant via the single inverse division maxAbs/127.
    // Pure narrow projection, zero shuffle; outputs are hash-friendly
    // scalars (scale, integer checksum of the codes, fold-ordered
    // reconstruction error). Zero vectors quantize to scale 0 / codes
    // 0 / error 0 (the inv-multiply guard avoids a 0/0 NaN that would
    // diverge between engines).
    Query("v9_quantize_int8", (s, d) => {
      VectorOps.int8Quantized(prep(s, d)).select(
        col("id").as("vec_id"),
        round(col("scale"), 6).as("scale"),
        aggregate(col("qs"), lit(0L), (a, q) => a + q).as("q_sum"),
        round(aggregate(
          zip_with(col("v"), col("qs"),
            (x, q) => (x - q * col("inv")) * (x - q * col("inv"))),
          lit(0.0), (a, e) => a + e), 6).as("recon_err"))
    },
      // v9's quantization mirrors exactly: max via a greatest-fold (==
      // array_max — max is order-insensitive), one 127/maxAbs division,
      // floor-based round-half-up codes, the single-inverse dequant, and
      // the same index-ordered error fold.
      s"""WITH d AS (SELECT vec_id,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |m AS (SELECT vec_id, v,
         |      list_reduce(list_prepend(0.0,
         |        list_transform(v, x -> abs(x))),
         |        (a, b) -> greatest(a, b)) AS max_abs FROM d),
         |q AS (SELECT vec_id, v,
         |      CASE WHEN max_abs > 0 THEN 127.0 / max_abs
         |           ELSE 0.0 END AS scale,
         |      CASE WHEN max_abs > 0 THEN max_abs / 127.0
         |           ELSE 0.0 END AS inv,
         |      list_transform(v, x -> floor(x *
         |        (CASE WHEN max_abs > 0 THEN 127.0 / max_abs
         |              ELSE 0.0 END) + 0.5)) AS qs
         |      FROM m)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  CAST(list_reduce(list_prepend(0.0, qs), (a, b) -> a + b)
         |    AS BIGINT) AS q_sum,
         |  round(list_reduce(list_prepend(0.0,
         |      list_transform(range(len(v)),
         |        i -> (v[i+1] - qs[i+1] * inv) * (v[i+1] - qs[i+1] * inv))),
         |    (a, b) -> a + b), 6) AS recon_err
         |FROM q""".stripMargin,
      reads = Seq(prep)),

    // Single-pass fixed-point Gram matrix (upper triangle of X'X over
    // the whole corpus) via the native GramMatrixAgg — the building
    // block for covariance / PCA / whitening of an embedding corpus.
    // The relational alternative explodes d^2 products per row into the
    // shuffle; the aggregate folds each partition into ONE ~16 KB long
    // array and merges partials by elementwise add, so the exchange
    // moves kilobytes regardless of corpus size. Components are
    // floor(x*1e6) longs, so every cell is an exact integer (loud
    // overflow via multiplyExact/addExact — re-scale beyond ~1e6 rows
    // per partition). The d x d eigensolve that would follow (PCA) is a
    // driver-side tiny-matrix problem BY DESIGN — only this pass is
    // data-sized.
    Query("v10_gram", (s, d) => {
      val g = prep(s, d).groupBy().agg(
        org.apache.spark.sql.graft.AnalyticsAggregates
          .gramFx(col("v"), Dim, 1000000.0).as("g"))
      g.select(col("g"), explode(expr(
          s"flatten(transform(sequence(0, ${Dim - 1}), i -> " +
            s"transform(sequence(i, ${Dim - 1}), " +
            "j -> named_struct('i', i, 'j', j))))")).as("p"))
        .select(col("p.i").cast("long").as("i"),
          col("p.j").cast("long").as("j"),
          expr(s"element_at(g, CAST(p.i*$Dim - (p.i*(p.i-1)) div 2 " +
            "+ (p.j - p.i) + 1 AS INT))").as("g_fx"))
    },
      // Mirrors the aggregate exactly: same float->double widening, same
      // floor(x*1e6) fixed-point longs, exact integer products/sums.
      """WITH d AS (SELECT vec_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |u AS (SELECT vec_id, i,
        |      CAST(floor(v[i+1]*1000000.0) AS BIGINT) AS fx
        |      FROM d, unnest(range(64)) AS t(i))
        |SELECT a.i AS i, b.i AS j,
        |  CAST(sum(a.fx*b.fx) AS BIGINT) AS g_fx
        |FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,
      reads = Seq(prep)),

    // Lloyd k-means, two full iterations (K=5, init = first 5 vectors):
    // assign → integer-exact centroid means → re-assign. Iterative ML on
    // the engine with a hash-matching oracle — possible only because
    // distances fold in a fixed order and centroid updates are exact
    // until one division, so both engines take IDENTICAL argmin
    // decisions at every round (the property that makes cross-engine
    // verification of an iterative algorithm tractable at all).
    Query("v7_kmeans", (s, d) => {
      val x = prep(s, d).select(col("id"), col("v"))
      val cent0 = x.filter(col("id") < 5)
        .select(col("id").as("cid"), col("v").as("c"))
      def assign(cents: DataFrame) =
        VectorOps.routeToCentroids(x, cents, 1)(VectorOps.euclidDistance)
      assign(VectorOps.centroidMeans(assign(cent0)))
        .select(col("id").as("vec_id"), col("cid").as("cluster"),
          round(col("dist"), 6).as("d2"))
    },
      s"""WITH $preparedSql,
         |c0 AS (SELECT vec_id AS cid, v AS c FROM d WHERE vec_id < 5),
         |a0 AS (SELECT vec_id, v, cid FROM (
         |  SELECT a.vec_id, a.v, c.cid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $euclid2Sql, c.cid) AS rk
         |  FROM d a CROSS JOIN c0 c) WHERE rk = 1),
         |e AS (SELECT cid, unnest(list_transform(range(len(v)),
         |    i -> struct_pack(pos := i,
         |      fx := CAST(floor(v[i+1] * 1000000.0) AS BIGINT)))) AS u
         |  FROM a0),
         |g AS (SELECT cid, u.pos AS pos, sum(u.fx) AS sfx, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |c1 AS (SELECT cid, list_transform(list_sort(list(
         |    struct_pack(pos := pos, ci := CAST(sfx AS DOUBLE)
         |      / CAST(n * 1000000 AS DOUBLE)))), s -> s.ci) AS c
         |  FROM g GROUP BY cid),
         |a1 AS (SELECT vec_id, cid, d2 FROM (
         |  SELECT a.vec_id, c.cid, $euclid2Sql AS d2,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $euclid2Sql, c.cid) AS rk
         |  FROM d a CROSS JOIN c1 c) WHERE rk = 1)
         |SELECT vec_id, cid AS cluster, round(d2, 6) AS d2 FROM a1"""
        .stripMargin,
      reads = Seq(prep)),

    // SemDeDup — semantic dedup via CLUSTER-LOCALITY (Abbas et al.
    // 2023, arXiv:2303.09540): the second semantic candidate-
    // generation discipline next to v5's hyperplane banding. Every
    // vector routes to a coarse k-means cell (v7's seeded codebook +
    // one Lloyd refinement — the IVF coarse quantizer, deterministic
    // by the same argmin/fixed-point laws), and near-duplicates are
    // sought ONLY within a cell: the pair join is an EQUI-join on the
    // cell id, never all-pairs, and candidates are bounded by the
    // cell size (K grows with the corpus so cells stay ~constant —
    // SemDeDup's scaling argument, and exactly v3/v4's routing
    // economics; a pathologically hot cell falls back to v5's banded
    // path, same as d3's df cap). Keeper rule: a vector is DROPPED
    // when its cell holds a SMALLER-id vector above the cosine
    // threshold (the d15 canonical-keeper convention, deterministic).
    // Output: the per-cell dedup ledger (n_vecs, duplicate pairs,
    // dropped count) a corpus-curation pass publishes. Cosine needs
    // no rounding — only threshold compares, and both engines fold
    // the identical (smaller-id first) dot products.
    // SHIPPED CONFIGURATION: top-2 SOFT routing (np = 2). d24 measured
    // single-assignment pair recall at 0.33-0.36 in this corpus's
    // loose-threshold (0.45) regime and top-2 soft assignment at
    // 0.74-0.86 — the production operator ships the measured-better
    // configuration (2x routing fan-out, cell size unchanged), and
    // d24 keeps the single-probe arm as the standing comparison. A
    // 2-probe pair can surface once per shared cell, so pairs dedupe
    // to DISTINCT (ia, ib); both the pair and the drop report in the
    // dropped vector's HOME (rk=1) cell, so per-cell counts sum to
    // the corpus totals and every attribution lands in a cell the
    // n_vecs ledger already lists.
    Query("d23_semdedup", (s, d) => {
      val cells = semdedupCells(s, d).filter(col("rk") === 1L)
      val home = cells.select(col("id").as("ib"), col("cid"))
      val pd = semdedupPairs(s, d, np = 2)
        .select("ia", "ib").distinct()
        .join(home, Seq("ib"))
      // ONE aggregation carries both per-cell counters (pairs +
      // distinct dropped vectors) — the previous two-agg + three-way
      // join shape paid an extra shuffle/join round purely for plan
      // structure, and on this ≤10k-row frame the wall cost is the
      // JOB COUNT, not the data (VERDICT r17 #8's solo-run floor)
      val pdAgg = pd.groupBy("cid").agg(
        count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("ib")).as("n_dropped"))
      cells.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
        .join(pdAgg, Seq("cid"), "left")
        .na.fill(0L, Seq("n_dup_pairs", "n_dropped"))
        .select(col("cid").as("cell"), col("n_vecs"),
          col("n_dup_pairs"), col("n_dropped"))
    },
      // d23: v7's deterministic k-means chain at K=16 (same seeded
      // codebook, same fixed-point Lloyd step, same argmin tiebreak),
      // then the SOFT (top-2) cell-local pair join — distinct pairs
      // attributed to the dropped vector's home (rk=1) cell, mirroring
      // the Spark side's shipped configuration.
      s"""WITH $preparedSql,
         |$semdedupSql,
         |nv AS (SELECT cid, count(*) AS n_vecs FROM a1
         |  WHERE rk = 1 GROUP BY 1),
         |hp AS MATERIALIZED (SELECT p2.ia, p2.ib, c.cid FROM p2
         |  JOIN cells c ON c.vec_id = p2.ib),
         |np AS (SELECT cid, count(*) AS n_dup_pairs FROM hp GROUP BY 1),
         |dr AS (SELECT cid, count(*) AS n_dropped
         |  FROM (SELECT DISTINCT cid, ib FROM hp) GROUP BY 1)
         |SELECT nv.cid AS cell, CAST(nv.n_vecs AS BIGINT) AS n_vecs,
         |  CAST(COALESCE(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
         |  CAST(COALESCE(dr.n_dropped, 0) AS BIGINT) AS n_dropped
         |FROM nv LEFT JOIN np ON np.cid = nv.cid
         |LEFT JOIN dr ON dr.cid = nv.cid""".stripMargin,
      reads = Seq(semdedupCells)),

    // SemDeDup recall gate — the d20/v8 measured-quality discipline
    // applied to d23: cluster-locality MISSES duplicate pairs that
    // straddle a cell boundary (the known SemDeDup trade), so the
    // routing's pair recall is MEASURED against exact truth on a
    // bounded audit sample (ids < 1000 — fixed-size at any corpus
    // scale, so the quadratic witness stays cluster-independent and
    // cheap: ≤C(1000,2) fold evaluations, one broadcast). In-cell
    // pairs are a SUBSET of truth by construction (same threshold,
    // same fold), so recall = n_hit / n_truth with the d20 zero-guard
    // (a degenerate sample reports 0 identically on both engines,
    // never a NULL-vs-NaN engine mismatch).
    //
    // What the number MEANS here: this corpus's strongest pair sits
    // at cos 0.513 (measured — no tight twins), so the 0.45 gate
    // operates in the LOOSE-similarity regime where ~2/3 of true
    // pairs straddle cells (recall ≈ 0.33-0.36 at both sf): exactly
    // the regime where v5's OR-amplified banding is the right
    // candidate generator. SemDeDup's own regime is TIGHT thresholds
    // (≈0.9+), where duplicates are ε-close and co-route — the
    // spec's bit-identical clone pins that case. The gate exists so
    // this boundary is a measured fact, not a belief — and it also
    // measures the canonical mitigation as a second arm: SOFT
    // assignment (each vector in its top-2 cells, v19's route-once
    // discipline over one cached ranked routing) trades 2× routing
    // fan-out for the boundary pairs single assignment loses.
    Query("d24_semdedup_recall", (s, d) => {
      val S = 1000L
      val sub = prep(s, d).filter(col("id") < S)
      val truth = sub
        .select(col("id").as("ia"), col("v").as("va"),
          col("n2").as("n2a"))
        .crossJoin(broadcast(sub.select(col("id").as("ib"),
          col("v").as("vb"), col("n2").as("n2b"))))
        .filter(col("ia") < col("ib"))
        .filter(VectorOps.cosineFromParts(
          VectorOps.dot(col("va"), col("vb")),
          col("n2a"), col("n2b")) >= 0.45)
        .agg(count(lit(1)).as("n_truth"))
      def arm(np: Int): DataFrame = {
        val hit = semdedupPairs(s, d, np)
          .filter(col("ia") < S && col("ib") < S)
          .select("ia", "ib").distinct()
          .agg(count(lit(1)).as("n_hit"))
        truth.crossJoin(broadcast(hit))
          .select(lit(np.toLong).as("nprobe"), col("n_truth"),
            col("n_hit"),
            round(when(col("n_truth") > 0, col("n_hit").cast("double") /
              col("n_truth").cast("double"))
              .otherwise(lit(0.0)), 6).as("recall"))
      }
      arm(1).unionAll(arm(2))
    },
      // d24: exact truth on the bounded audit sample (ids < 1000), the
      // in-cell pairs at each probe depth restricted to the same
      // sample (DISTINCT — a 2-probe pair can co-occur in two shared
      // cells), zero-guarded ratios as a 2-row nprobe curve.
      s"""WITH $preparedSql,
         |$semdedupSql,
         |t AS (SELECT count(*) AS n_truth FROM (
         |  SELECT a.vec_id, b.vec_id,
         |    $dotSql / sqrt(a.n2 * b.n2) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < 1000 AND b.vec_id < 1000)
         |  WHERE cos >= 0.45),
         |h1 AS (SELECT count(*) AS n_hit FROM
         |  (SELECT DISTINCT ia, ib FROM p)
         |  WHERE ia < 1000 AND ib < 1000),
         |h2 AS (SELECT count(*) AS n_hit FROM p2
         |  WHERE ia < 1000 AND ib < 1000)
         |SELECT CAST(1 AS BIGINT) AS nprobe, t.n_truth, h1.n_hit,
         |  round(CASE WHEN t.n_truth > 0
         |    THEN CAST(h1.n_hit AS DOUBLE) / CAST(t.n_truth AS DOUBLE)
         |    ELSE 0.0 END, 6) AS recall
         |FROM t, h1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), t.n_truth, h2.n_hit,
         |  round(CASE WHEN t.n_truth > 0
         |    THEN CAST(h2.n_hit AS DOUBLE) / CAST(t.n_truth AS DOUBLE)
         |    ELSE 0.0 END, 6) AS recall
         |FROM t, h2""".stripMargin,
      reads = Seq(prep, semdedupCells)),

    // Exact MIPS: top-10 by RAW inner product — the retrieval
    // objective when magnitudes matter (recommender/reranker scores).
    // v1's broadcast shape; the exactness baseline v13 is gated
    // against.
    Query("v12_mips_topk", (s, d) => {
      val p = prep(s, d)
      VectorOps.bruteForceTopK(p, p.filter(col("id") < 5), 10,
        VectorOps.Dot)
    },
      s"""WITH $preparedSql,
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round($dotSql, 6) AS dot
         |      FROM n a JOIN n b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5)
         |SELECT id_q, id_n, dot, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY dot DESC, id_n) AS rank FROM p)
         |WHERE rank <= 10""".stripMargin,
      reads = Seq(prep)),

    // Approximate MIPS via norm augmentation: corpus vectors extend by
    // sqrt(M^2 - |x|^2) (all reaching norm M), probes by 0 — cosine in
    // the augmented space is monotone in the inner product, so the
    // SAME hyperplane bands (one more dimension) bucket by dot
    // product; candidates rerank by the exact dot of the original
    // vectors. VectorOpsSpec floors this against v12.
    Query("v13_mips_lsh", (s, d) => {
      val p = prep(s, d)
      VectorOps.lshTopK(p, p.filter(col("id") < 5), Bands,
        RowsPerBand, Dim, 5, VectorOps.Dot)
    },
      // augmented-space banding: va aliases to v so the SHARED plane
      // fragments (range(len(v)) is length-generic) band the 65-dim
      // lists; the exact-dot rerank reads the original vectors vo
      s"""WITH $preparedSql,
         |mx AS (SELECT max(n2) AS m2 FROM n),
         |ca AS (SELECT vec_id,
         |      list_append(v, sqrt(greatest(m2 - n2, 0.0))) AS v,
         |      v AS vo FROM n, mx),
         |pa AS (SELECT vec_id,
         |      list_append(v, CAST(0.0 AS DOUBLE)) AS v, v AS vo
         |      FROM n WHERE vec_id < 5),
         |cb AS (${augBandSelects("ca")}),
         |pb AS (${augBandSelects("pa")}),
         |cand AS (SELECT DISTINCT p.vec_id AS id_q, c.vec_id AS id_n,
         |      round($dotVoSql, 6) AS dot
         |      FROM pb p JOIN cb c ON p.band = c.band
         |        AND p.bucket = c.bucket AND c.vec_id <> p.vec_id)
         |SELECT id_q, id_n, dot, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY dot DESC, id_n) AS rank FROM cand)
         |WHERE rank <= 5""".stripMargin,
      reads = Seq(prep)),

    // Quantized search: v9's int8 codes POWER the ranking — each pair
    // scores by the integer code dot product (exact Long MACs; |q| <=
    // 127 so a 64-dim product sum is far under 2^53) rescaled by the
    // two inverse scales and normalized by the true norms: the
    // "asymmetric quantized cosine". At 100 TB the corpus rides in
    // int8 — 4x less IO and memory than f32 — and this is the scoring
    // kernel a PQ/SQ index runs over its candidates; exactness is
    // v1's job, and VectorOpsSpec floors this ranking's recall@10
    // against v1 so a quantization change can't silently collapse
    // search quality. All-pairs for the 5 probes (v1's broadcast
    // shape) so the oracle isolates QUANTIZATION error; swap in v2/v4
    // candidates for sub-linear generation.
    Query("v11_quantized_topk", (s, d) => {
      val q = VectorOps.int8Quantized(prep(s, d))
        .select(col("id"), col("n2"), col("inv"), col("qs"))
      val pairs = q.toDF("id_n", "n2_n", "inv_n", "qs_n")
        .crossJoin(broadcast(q.filter(col("id") < 5)
          .toDF("id_q", "n2_q", "inv_q", "qs_q")))
        .withColumn("qdot",
          aggregate(zip_with(col("qs_q"), col("qs_n"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x))
        .select(col("id_q"), col("id_n"),
          round((col("inv_q") * col("inv_n")) *
              col("qdot").cast("double") /
              sqrt(col("n2_q") * col("n2_n")), 6)
            .as("qcos"))
      VectorOps.rankPerProbe(pairs, col("qcos").desc, 10)
    },
      // same quantization CTE chain as v9; dot/rescale/normalize mirrors
      // the Spark fold and multiply order exactly (left-assoc:
      // ((inv·inv)·qdot)/sqrt), so doubles are bit-identical
      s"""WITH $preparedSql,
         |m AS (SELECT vec_id, v, n2,
         |      list_reduce(list_prepend(0.0,
         |        list_transform(v, x -> abs(x))),
         |        (a, b) -> greatest(a, b)) AS max_abs FROM n),
         |q AS (SELECT vec_id, n2,
         |      CASE WHEN max_abs > 0 THEN max_abs / 127.0
         |           ELSE 0.0 END AS inv,
         |      list_transform(v, x -> floor(x *
         |        (CASE WHEN max_abs > 0 THEN 127.0 / max_abs
         |              ELSE 0.0 END) + 0.5)) AS qs
         |      FROM m),
         |p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_n,
         |      round(((a.inv * b.inv) *
         |        list_reduce(list_prepend(0.0,
         |          list_transform(range(len(a.qs)),
         |            i -> a.qs[i+1] * b.qs[i+1])), (x, y) -> x + y)) /
         |        sqrt(a.n2 * b.n2), 6) AS qcos
         |      FROM q a JOIN q b ON b.vec_id <> a.vec_id
         |      WHERE a.vec_id < 5)
         |SELECT id_q, id_n, qcos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_q
         |    ORDER BY qcos DESC, id_n) AS rank FROM p)
         |WHERE rank <= 10""".stripMargin,
      reads = Seq(prep)))

  /** Left-fold dot product between a.v and b.v (mirrors VectorOps.dot). */
  private val dotSql =
    """list_reduce(list_prepend(0.0, list_transform(range(len(a.v)),
      |      i -> a.v[i+1] * b.v[i+1])), (x, y) -> x + y)""".stripMargin

  /** Left-fold squared L2 between a.v and c.c (mirrors VectorOps.euclid2:
    * same index order, same 0.0 seed, so doubles are bit-identical).
    */
  private val euclid2Sql =
    """list_reduce(list_prepend(0.0, list_transform(range(len(a.v)),
      |      i -> (a.v[i+1] - c.c[i+1]) * (a.v[i+1] - c.c[i+1]))),
      |      (x, y) -> x + y)""".stripMargin

  /** d23/d24's shared oracle chain: the K=16 deterministic k-means
    * routing (v7's CTE shapes) ending in `cells` (vec_id, cid, v, n2)
    * and `p` — the in-cell thresholded near-dup pairs. The Lloyd-chain
    * CTEs carry MATERIALIZED (semantics-identical DuckDB/Postgres hint):
    * a1/cells/cells2 are multiply referenced and DuckDB 1.0 inlines by
    * default, recomputing the n×K cross joins per reference — at sf1
    * that turned the d23 oracle into an OOM; materialized it runs in
    * seconds. */
  private val semdedupSql =
    s"""kk AS (SELECT greatest(16, count(*) // 312) AS kk FROM d),
       |c0 AS (SELECT vec_id AS cid, v AS c FROM d, kk
       |  WHERE vec_id < kk.kk),
       |a0 AS MATERIALIZED (SELECT vec_id, v, cid FROM (
       |  SELECT a.vec_id, a.v, c.cid,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY $euclid2Sql, c.cid) AS rk
       |  FROM d a CROSS JOIN c0 c) WHERE rk = 1),
       |e AS (SELECT cid, unnest(list_transform(range(len(v)),
       |    i -> struct_pack(pos := i,
       |      fx := CAST(floor(v[i+1] * 1000000.0) AS BIGINT)))) AS u
       |  FROM a0),
       |g AS (SELECT cid, u.pos AS pos, sum(u.fx) AS sfx, count(*) AS n
       |  FROM e GROUP BY 1, 2),
       |c1 AS MATERIALIZED (SELECT cid, list_transform(list_sort(list(
       |    struct_pack(pos := pos, ci := CAST(sfx AS DOUBLE)
       |      / CAST(n * 1000000 AS DOUBLE)))), s -> s.ci) AS c
       |  FROM g GROUP BY cid),
       |a1 AS MATERIALIZED (SELECT vec_id, cid, rk FROM (
       |  SELECT a.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY $euclid2Sql, c.cid) AS rk
       |  FROM d a CROSS JOIN c1 c) WHERE rk <= 2),
       |cells AS MATERIALIZED (SELECT a1.vec_id, a1.cid, n.v, n.n2
       |  FROM a1 JOIN n ON n.vec_id = a1.vec_id WHERE a1.rk = 1),
       |cells2 AS MATERIALIZED (SELECT a1.vec_id, a1.cid, n.v, n.n2
       |  FROM a1 JOIN n ON n.vec_id = a1.vec_id),
       |p AS (SELECT * FROM (
       |  SELECT a.cid, a.vec_id AS ia, b.vec_id AS ib,
       |    $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM cells a JOIN cells b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |  WHERE cos >= 0.45),
       |p2 AS (SELECT DISTINCT ia, ib FROM (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    $dotSql / sqrt(a.n2 * b.n2) AS cos
       |  FROM cells2 a JOIN cells2 b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |  WHERE cos >= 0.45)""".stripMargin

  private val preparedSql =
    """d AS (SELECT vec_id,
      |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings),
      |n AS (SELECT vec_id, v,
      |      list_reduce(list_prepend(0.0, list_transform(range(len(v)),
      |        i -> v[i+1] * v[i+1])), (x, y) -> x + y) AS n2 FROM d)"""
      .stripMargin

  /** v14/v21's shared PQ chain: md5-derived codebook → per-vector
    * distance tables → codes → probe ADC sums → ranked `r`. Ends with
    * the raw-vector relation `d` still in scope for the truth arm.
    */
  private val pqChainSql =
    """d AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |grid AS (SELECT s.sv AS sv, c.cv AS cv, j.jv AS jv,
      |    CAST(CAST(concat('0x', substr(md5(concat('pq',
      |      CAST(s.sv AS VARCHAR), ':', CAST(c.cv AS VARCHAR), ':',
      |      CAST(j.jv AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
      |      / 576460752303423488.0 - 1.0 AS comp
      |  FROM range(8) s(sv), range(16) c(cv), range(8) j(jv)),
      |cbv AS (SELECT sv, cv, list(comp ORDER BY jv) AS cvec
      |  FROM grid GROUP BY sv, cv),
      |cb AS (SELECT list(cvec ORDER BY sv, cv) AS flat FROM cbv),
      |dls AS MATERIALIZED (SELECT vec_id,
      |    list_transform(range(8), s ->
      |      list_transform(range(16), c ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(8), j ->
      |            (v[s*8+j+1] - flat[s*16+c+1][j+1])
      |            * (v[s*8+j+1] - flat[s*16+c+1][j+1]))),
      |          (a, x) -> a + x))) AS dl
      |  FROM d CROSS JOIN cb),
      |enc AS (SELECT vec_id,
      |    list_transform(dl, l -> list_position(l, list_min(l)) - 1)
      |      AS codes
      |  FROM dls),
      |pt AS (SELECT vec_id AS id_q, dl AS dtab FROM dls
      |  WHERE vec_id < 5),
      |p AS (SELECT pt.id_q, e.vec_id AS id_n,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(8), s -> dtab[s+1][codes[s+1]+1])),
      |      (a, x) -> a + x) AS ad2
      |  FROM enc e, pt WHERE e.vec_id <> pt.id_q),
      |r AS (SELECT id_q, id_n, ad2,
      |    row_number() OVER (PARTITION BY id_q ORDER BY ad2, id_n)
      |      AS rank
      |  FROM p)""".stripMargin

  /** Projection of v onto md5-derived hyperplane `p`, mirroring
    * VectorOps.planeComponent + the strict left fold of the dot product.
    */
  private def planeProjSql(p: Int): String = {
    val comp = s"(CAST(CAST(concat('0x', substr(md5(concat('hp$p:', " +
      "CAST(i AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) " +
      "/ 576460752303423488.0 - 1.0)"
    "list_reduce(list_prepend(0.0, " +
      s"list_transform(range(len(v)), i -> v[i+1] * $comp)), (x, y) -> x + y)"
  }

  /** Band `b`'s bucket id over RowsPerBand sign bits (global plane index
    * b*RowsPerBand+j), mirroring VectorOps.bandedBucket.
    */
  private def bandBucketSql(b: Int): String = (0 until RowsPerBand).map { j =>
    s"(CASE WHEN ${planeProjSql(b * RowsPerBand + j)} >= 0 " +
      s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
  }.mkString(" + ")

  /** Banded-corpus CTE body (vec_id, v, n2, band, bucket) — one branch
    * per band, mirroring the VectorOps band explosion; shared by the
    * v2/v5/v8 oracles.
    */
  private lazy val bandSelects: String = (0 until Bands).map(b =>
    s"SELECT vec_id, v, n2, $b AS band, ${bandBucketSql(b)} AS bucket " +
      "FROM n").mkString("\n|      UNION ALL\n|      ")

  /** v13's banded AUGMENTED relation: same plane fragments (they
    * iterate range(len(v)), so the 65-dim augmented lists band
    * correctly), original vectors carried through as `vo` for the
    * exact-dot rerank.
    */
  private def augBandSelects(from: String): String = (0 until Bands)
    .map(b =>
      s"SELECT vec_id, vo, $b AS band, ${bandBucketSql(b)} AS bucket " +
        s"FROM $from").mkString("\n|      UNION ALL\n|      ")

  /** Strict left-fold dot over the carried-through original vectors. */
  private val dotVoSql =
    """list_reduce(list_prepend(0.0, list_transform(range(len(p.vo)),
      |      i -> p.vo[i+1] * c.vo[i+1])), (x, y) -> x + y)""".stripMargin

}
