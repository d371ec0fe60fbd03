package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}
import graft.sources.Tables

/** Text-analysis queries over `documents` (north-star extension,
  * SURVEY.md §2.10): token counting, heuristic language ID, quality
  * scoring, fingerprinting. All pure narrow projections — no shuffle,
  * embarrassingly parallel at 100 TB.
  *
  * Oracle parity notes: DuckDB `len()` is BIGINT so Spark `size()` is cast
  * to long; ratios are rounded to 6dp on both sides; the rolling hash uses
  * the identical fold `(acc*31 + codepoint) % 1e9+7` (list_reduce with a
  * prepended 0 seed on the DuckDB side); the 60-bit content hash is
  * md5-derived on both sides (murmur3 `hash()` is engine-specific).
  */
object QueriesText {

  /** x16's per-document distinct-token cap — bounds the in-row pair
    * expansion to cap·(cap-1)/2 pairs per document at any document
    * length (mirrored in the oracle SQL so hashes match).
    */
  val MaxCooccurTokens: Int = 128

  /** x17's chunking geometry: 64-token windows at stride 48 — each
    * consecutive pair overlaps by 16 tokens (mirrored in the oracle).
    */
  val ChunkSize: Int = 64
  val ChunkStride: Int = 48

  lazy val registry: Seq[Query] = Seq(
    // Token counting: whitespace tokens, distinct tokens, BPE-ish subwords,
    // mean token length.
    Query("x1_token_stats", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val n = size(toks).cast("long")
      val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
      Tables.documents(s, d).select(
        col("doc_id"),
        n.as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        size(TextOps.subTokens(col("text"))).cast("long").as("n_subtokens"),
        round(sumLen / n.cast("double"), 6).as("avg_token_len"))
    },
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks, text FROM documents)
         |SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS n_subtokens,
         |  round(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, x -> CAST(length(x) AS BIGINT))),
         |      (a, b) -> a + b) / CAST(len(toks) AS DOUBLE), 6)
         |    AS avg_token_len
         |FROM t""".stripMargin),

    // Heuristic language ID: function-word hits per language, argmax with
    // fixed priority tie-break.
    Query("x2_lang_id", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.langId(toks).as("pred_lang"),
        TextOps.vocabHits(toks, TextOps.langVocab.head._2).as("en_hits"))
    },
      x2OracleSql),

    // Language-ID CONFUSION MATRIX — the d20/v8 measured-quality gate
    // applied to x2: predictions scored against the corpus's `lang`
    // column, one (truth, predicted) cell per combination with
    // per-truth recall. This is what catches a silent stopword-list
    // edit degrading one language while aggregate accuracy barely
    // moves. On THIS corpus the matrix exposes a real property of the
    // test data: every lang label maps ~90% to 'en' — the synthetic
    // text is English-vocab regardless of its label, i.e. the labels
    // are metadata, not text-derived (the kind of label/content
    // mismatch this gate exists to surface before training on it).
    // One doc-level join + a cell-sized agg; the recall window sees
    // the ≤ |langs|² cell grid.
    Query("x34_langid_confusion", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pred = SparkEntry.queries("x2_lang_id")(s, d)
        .select(col("doc_id"), col("pred_lang"))
      val cells = Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("truth_lang"))
        .join(pred, Seq("doc_id"))
        .groupBy("truth_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("truth_lang")
      cells.select(col("truth_lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(w).cast("double"), 6).as("recall"))
    },
      // x34: x2's oracle embedded as a derived table (one source of
      // truth for the predictor), same cell agg + per-truth recall.
      {
      s"""SELECT truth_lang, pred_lang, n,
         |  round(CAST(n AS DOUBLE) / CAST(sum(n)
         |    OVER (PARTITION BY truth_lang) AS DOUBLE), 6) AS recall
         |FROM (SELECT d.lang AS truth_lang, p.pred_lang,
         |    count(*) AS n
         |  FROM documents d
         |  JOIN ($x2OracleSql) p ON d.doc_id = p.doc_id
         |  GROUP BY 1, 2)""".stripMargin
    }),

    // Quality scoring: punctuation noise, stopword density, composite score.
    Query("x3_quality_score", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.stopwordRatio(toks), 6).as("stop_ratio"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
    },
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  round(CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE length(regexp_replace(text, '[a-z0-9\\s]', '', 'g'))
         |      / CAST(length(text) AS DOUBLE) END, 6) AS punct_ratio,
         |  round(CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE len(list_filter(toks, x -> list_contains($enList, x)))
         |      / CAST(len(toks) AS DOUBLE) END, 6) AS stop_ratio,
         |  round(least(1.0, len(toks) / 100.0) *
         |    (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE length(regexp_replace(text, '[a-z0-9\\s]', '', 'g'))
         |        / CAST(length(text) AS DOUBLE) END), 6) AS quality
         |FROM t""".stripMargin),

    // Document fingerprinting: order-sensitive rolling hash + md5-derived
    // 60-bit content hash.
    Query("x4_fingerprint", (s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("roll_fp"),
        TextOps.md5Prefix60(col("text")).as("md5_fp"))
    },
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS roll_fp,
        |  CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS md5_fp
        |FROM documents""".stripMargin),

    // Vocabulary building: corpus-wide token frequencies, top 50. One
    // hash-agg shuffle (map-side partial counts), then
    // TakeOrderedAndProject — per-partition bounded heaps, no full sort.
    Query("x5_vocab_topk", (s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      graft.operators.RelationalOps.topKGlobal(counts,
        Seq(col("cnt").desc, col("token").asc), 50)
    },
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, count(*) AS cnt FROM t
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin),

    // Co-occurrence mining: top-20 token pairs by document frequency
    // (the building block of PMI phrase scoring), with the exact-ratio
    // lift factor n_docs·df(a,b)/(df(a)·df(b)) — exact integer ratio,
    // no log (libm-free, the x8 idf discipline). Pairs expand IN-ROW
    // from each doc's sorted distinct tokens (the d5/v5 pattern: two
    // explodes of the same array, a < b) — the pair stream shuffles
    // once into the count aggregate, unigram dfs ride the shared token
    // cache, and the pair→unigram joins are broadcasts of the top-k.
    //
    // The pair expansion is CAPPED at MaxCooccurTokens distinct tokens
    // per document (the df-cap discipline every candidate generator
    // here follows — maxDocFreq / maxChunkFreq / maxBucketFreq): the
    // O(u²) in-row blowup is bounded to O(cap²) no matter how long one
    // document is, so a single 10k-distinct-token document emits at
    // most cap·(cap-1)/2 pairs into the shuffle, not 50M. The cap keeps
    // the lexicographically first `cap` tokens (sort + slice —
    // deterministic and engine-portable, mirrored in the oracle).
    // Unigram dfs and the lift denominator stay UNCAPPED: the cap is a
    // documented recall bound on pairs inside very long documents, not
    // a frequency bias. Plan-guarded (PlanAuditSpec: slice survives)
    // and fan-out-bounded by a long-doc fixture in TextOpsSpec.
    Query("x16_cooccur_topk", (s, d) => {
      val dt = QueriesDedup.docsWithTokens(s, d)
        .select(col("doc_id"), array_distinct(col("toks")).as("dtf"))
        .withColumn("dt",
          TextOps.capDistinctTokens(col("dtf"), MaxCooccurTokens))
      val pairs = dt
        .select(col("dt"), explode(col("dt")).as("tok_a"))
        .select(col("tok_a"), explode(col("dt")).as("tok_b"))
        .filter(col("tok_a") < col("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("pair_df"))
      val top = graft.operators.RelationalOps.topKGlobal(pairs,
        Seq(col("pair_df").desc, col("tok_a").asc, col("tok_b").asc), 20)
      val uni = dt.select(explode(col("dtf")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = QueriesDedup.docsWithTokens(s, d)
        .agg(count(lit(1)).as("n_docs"))
      // the TOP side (20 rows) broadcasts into the unigram-df lookups —
      // the vocabulary itself never broadcasts and never re-shuffles
      val withA = uni.join(broadcast(top), col("tok") === col("tok_a"))
        .drop("tok").withColumnRenamed("df", "df_a")
      val withB = uni.join(broadcast(withA), col("tok") === col("tok_b"))
        .drop("tok").withColumnRenamed("df", "df_b")
      withB.crossJoin(broadcast(nDocs))
        .select(col("tok_a"), col("tok_b"), col("pair_df"),
          round(col("n_docs") * col("pair_df") /
            (col("df_a") * col("df_b")).cast("double"), 6).as("lift"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS dtf
         |           FROM documents),
         |tc AS (SELECT doc_id, dtf,
         |       list_slice(list_sort(dtf), 1, $MaxCooccurTokens) AS dt
         |       FROM t),
         |e1 AS (SELECT dt, unnest(dt) AS tok_a FROM tc),
         |e2 AS (SELECT tok_a, unnest(dt) AS tok_b FROM e1),
         |p AS (SELECT tok_a, tok_b, count(*) AS pair_df FROM e2
         |      WHERE tok_a < tok_b GROUP BY 1, 2),
         |top AS (SELECT * FROM p
         |        ORDER BY pair_df DESC, tok_a, tok_b LIMIT 20),
         |uni AS (SELECT tok, count(*) AS df
         |        FROM (SELECT unnest(dtf) AS tok FROM tc) GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tok_a, tok_b, pair_df,
         |  round(n_docs * pair_df / CAST(a.df * b.df AS DOUBLE), 6)
         |    AS lift
         |FROM top JOIN uni a ON a.tok = top.tok_a
         |         JOIN uni b ON b.tok = top.tok_b
         |CROSS JOIN n""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)),

    // Repetition scoring (the Gopher/MassiveText duplicate-n-gram rule):
    // fraction of a doc's 3-gram windows that repeat an earlier window.
    // Distinct count via the native shingle expression (dedup is by
    // shingle STRING before hashing, so it equals the oracle's
    // list_distinct over strings). Pure narrow projection.
    Query("x7_repetition", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val total = greatest(size(toks) - 2, lit(0)).cast("long")
      val dist = size(DedupOps.shingleHashes(toks, 3)).cast("long")
      Tables.documents(s, d).select(
        col("doc_id"),
        total.as("n_shingles"),
        dist.as("n_distinct"),
        round(when(total > 0,
          (total - dist) / total.cast("double")).otherwise(0.0), 6)
          .as("dup_ratio"))
    },
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  greatest(len(toks) - 2, 0) AS n_shingles,
         |  CAST(len(list_distinct(list_transform(range(len(toks) - 2),
         |    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))))
         |    AS BIGINT) AS n_distinct
         |  FROM t)
         |SELECT doc_id, n_shingles, n_distinct,
         |  round(CASE WHEN n_shingles > 0
         |    THEN (n_shingles - n_distinct) / CAST(n_shingles AS DOUBLE)
         |    ELSE 0.0 END, 6) AS dup_ratio
         |FROM c""".stripMargin),

    // Deterministic train/val/test split: md5-derived bucket of the doc
    // id — reproducible across engines/runs/reshuffles (never
    // rand()-based: resampling must not move documents between splits).
    // Pure narrow projection, zero shuffle.
    Query("x6_hash_split", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          (TextOps.md5Prefix60(
            concat(lit("split:"), col("doc_id").cast("string"))) % 100)
            .as("bucket"))
        .select(col("doc_id"), col("bucket"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"))
    },
      """WITH b AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('split:',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // TF-IDF top-3 terms per document. The idf factor is the exact IEEE
    // ratio N/df rather than a log: libm log implementations differ in
    // the last ulp across engines and a hash-compared oracle can't
    // tolerate that; division is bit-specified, and for ranking the
    // monotone transform changes nothing. Shape: persisted tf frame →
    // one hash agg for df → equi-join on term (AQE broadcasts the
    // vocabulary side when it's small; at web scale it stays a shuffle
    // join) → window top-k.
    Query("x8_tfidf_topk", (s, d) => {
      val tf = tfFrame(s, d)
      val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // count over the shared tokens cache, not a third parquet job:
      // docsWithTokens keeps every document row (empty token arrays
      // included), so its count IS count(*) FROM documents
      val nDocs = QueriesDedup.docsWithTokens(s, d)
        .agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(docFreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(
          col("tf") * (col("n_docs").cast("double") / col("df")), 6))
      graft.operators.RelationalOps.topKPerGroup(scored, Seq("doc_id"),
        Seq(col("tfidf").desc, col("term").asc), 3, rankCol = "rank")
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
          col("rank").cast("long").as("rank"))
    },
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term
         |      FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf,
         |      round(tf * (CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, tfidf,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, term) AS rank
         |      FROM sc)
         |SELECT doc_id, term, tf, tfidf, rank FROM r WHERE rank <= 3"""
        .stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens, tfFrame)),

    // Unigram language-model scoring: per-document mean negative
    // log-likelihood in nats under the corpus's own unigram
    // distribution — the classic cheap "perplexity" quality signal
    // (gibberish and boilerplate score high-NLL / low-NLL outliers
    // respectively; cf. x20's intra-document entropy, which this
    // complements with a CORPUS-relative measure). Rides the shared
    // persisted tf frame (tokenize+count runs once for x8/x21), so the
    // marginal cost is one vocab-sized aggregate + one term join. At
    // 100 TB the corpus-frequency side is vocab-sized (Heaps' law:
    // orders of magnitude smaller than the corpus) — broadcast-able at
    // moderate vocab, AQE-skew-handled at web vocab; the tf side
    // shuffles once on term. The per-doc Σ tf·ln(p) uses the x20
    // sorted-fold discipline (sort the identical doubles, fold left)
    // so summation order — and therefore the 6dp-rounded hash — is
    // engine-independent, not just probably-equal.
    Query("x21_unigram_lm", (s, d) => {
      val tf = tfFrame(s, d)
      val cf = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
      val tot = cf.agg(sum(col("cf")).as("tot"))
      val contrib = col("tf").cast("double") *
        log(col("cf").cast("double") / col("tot").cast("double"))
      tf.join(cf, Seq("term"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          array_sort(collect_list(contrib)).as("cs"))
        .select(col("doc_id"), col("n_tokens"),
          round(-aggregate(col("cs"), lit(0.0), (a, x) => a + x) /
            col("n_tokens").cast("double"), 6).as("avg_nll"))
    },
      // x21: the x20 sorted-fold discipline on the per-doc log sum —
      // both engines sort the identical contribution doubles and fold
      // left, so the rounded mean NLL is order-independent.
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term
         |      FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
         |tot AS (SELECT sum(cf) AS tot FROM cf),
         |g AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |      list_sort(list(CAST(tf AS DOUBLE) *
         |        ln(CAST(cf AS DOUBLE) / CAST(tot AS DOUBLE)))) AS cs
         |      FROM tf JOIN cf USING (term) CROSS JOIN tot
         |      GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cs),
         |    (acc, x) -> acc + x) / CAST(n_tokens AS DOUBLE), 6)
         |    AS avg_nll
         |FROM g""".stripMargin,
      reads = Seq(tfFrame)),

    // Bigram conditional LM: per-document mean −ln P(cur|prev) with
    // P(cur|prev) = c(prev,cur)/c(prev·) from the corpus's own bigram
    // counts — one order up from x21's unigram surprisal, the cheapest
    // score that catches WORD-SALAD documents (every unigram common,
    // every transition rare). Bigrams expand IN-ROW (zip of the token
    // array with its own tail — no token self-join, no window over an
    // exploded stream), aggregate once into a persisted per-doc bigram
    // tf frame, and the two model tables (bigram and prefix counts)
    // are vocab²-bounded aggregates over it. Same sorted-fold hash
    // discipline as x20/x21.
    Query("x23_bigram_lm", (s, d) => {
      val tf2 = bg2Frame(s, d)
      val c2 = tf2.groupBy("bg").agg(sum(col("tf2")).as("c2"))
      val c1 = c2.withColumn("prev", substring_index(col("bg"), " ", 1))
        .groupBy("prev").agg(sum(col("c2")).as("c1"))
      val contrib = col("tf2").cast("double") *
        log(col("c2").cast("double") / col("c1").cast("double"))
      tf2.join(c2, Seq("bg"))
        .withColumn("prev", substring_index(col("bg"), " ", 1))
        .join(c1, Seq("prev"))
        .groupBy("doc_id")
        .agg(sum(col("tf2")).as("n_bigrams"),
          array_sort(collect_list(contrib)).as("cs"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-aggregate(col("cs"), lit(0.0), (a, x) => a + x) /
            col("n_bigrams").cast("double"), 6).as("avg_nll2"))
    },
      // x23: the x21 oracle shape at bigram granularity; bigrams from an
      // indexed zip of the token list with its own tail, prefix counts by
      // split_part (tokens cannot contain spaces — the tokenizer splits
      // on them), sorted-fold per-doc log sums.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(list_transform(range(len(toks)-1),
         |        i -> toks[i+1] || ' ' || toks[i+2])) AS bg
         |      FROM t WHERE len(toks) >= 2),
         |tf2 AS (SELECT doc_id, bg, count(*) AS tf2 FROM b
         |        GROUP BY 1, 2),
         |c2 AS (SELECT bg, sum(tf2) AS c2 FROM tf2 GROUP BY 1),
         |c1 AS (SELECT split_part(bg, ' ', 1) AS prev, sum(c2) AS c1
         |       FROM c2 GROUP BY 1),
         |g AS (SELECT doc_id, CAST(sum(tf2) AS BIGINT) AS n_bigrams,
         |      list_sort(list(CAST(tf2 AS DOUBLE) *
         |        ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)))) AS cs
         |      FROM tf2 JOIN c2 USING (bg)
         |      JOIN c1 ON split_part(bg, ' ', 1) = c1.prev
         |      GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cs),
         |    (acc, x) -> acc + x) / CAST(n_bigrams AS DOUBLE), 6)
         |    AS avg_nll2
         |FROM g""".stripMargin,
      reads = Seq(bg2Frame)),

    // Cross-source vocabulary overlap — the "are these two datasets
    // the same distribution" screen corpus curation runs before
    // mixing: distinct-vocabulary Jaccard for every source pair,
    // top-20. The pair expansion runs over the (token → sources)
    // inverted index, so a token contributes at most C(sources, 2)
    // pairs — bounded by the SOURCE count, which is catalog-sized at
    // any corpus scale (the d2 discipline with a structurally tiny
    // key space). Exact integer intersections, one rounded ratio.
    Query("x30_source_overlap", (s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"),
          explode(array_distinct(TextOps.tokens(col("text"))))
            .as("token"))
        .distinct()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("nv"))
      val a = st.select(col("token"), col("source").as("src_a"))
      val b = st.select(col("token"), col("source").as("src_b"))
      val inter = a.join(b, Seq("token"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      val jac = col("inter") /
        (col("nv_a") + col("nv_b") - col("inter"))
      graft.operators.RelationalOps.topKGlobal(
        inter
          .join(broadcast(sizes.select(col("source").as("src_a"),
            col("nv").as("nv_a"))), Seq("src_a"))
          .join(broadcast(sizes.select(col("source").as("src_b"),
            col("nv").as("nv_b"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("inter"),
            round(jac, 6).as("vocab_jaccard")),
        Seq(col("vocab_jaccard").desc, col("src_a").asc,
          col("src_b").asc), 20)
    },
      // x30: same inverted-index pair expansion, same exact ratio.
      s"""WITH st AS (SELECT DISTINCT source, t AS token
         |  FROM (SELECT source,
         |    unnest(list_distinct($toksSql)) AS t FROM documents)),
         |sz AS (SELECT source, count(*) AS nv FROM st GROUP BY 1),
         |i AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS inter
         |  FROM st a JOIN st b
         |    ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, CAST(i.inter AS BIGINT) AS inter,
         |  round(i.inter / CAST(sa.nv + sb.nv - i.inter AS DOUBLE), 6)
         |    AS vocab_jaccard
         |FROM i JOIN sz sa ON sa.source = i.src_a
         |  JOIN sz sb ON sb.source = i.src_b
         |ORDER BY vocab_jaccard DESC, src_a, src_b LIMIT 20"""
        .stripMargin),

    // Dedup-savings report — the business case for the whole d-family
    // in one table: per source, how many docs survive d1's keeper
    // election and what fraction of the TOKEN budget dedup returns
    // (token-weighted, because a 10k-token duplicate costs 100× a
    // 100-token one). Keeper election is global (the dedup-key window
    // spans sources); the report groups by source after. Exact integer
    // sums, one rounded percentage.
    Query("x29_dedup_savings", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("source"), TextOps.tokenCount(col("text")).as("nt"),
        md5(concat_ws(" ", slice(toks, 1, 5))).as("dkey"))
      val withK = docs.withColumn("keeper",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy("dkey")))
      withK.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keeper"), 1L).otherwise(0L)).as("n_keepers"),
          sum(col("nt")).as("tokens_total"),
          sum(when(col("keeper"), col("nt")).otherwise(0L))
            .as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_keepers"),
          col("tokens_total"), col("tokens_kept"),
          round((col("tokens_total") - col("tokens_kept"))
            .cast("double") / col("tokens_total").cast("double")
            * 100.0, 6).as("savings_pct"))
    },
      // x29: same global keeper window, per-source rollup.
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS nt,
         |    md5(array_to_string(list_slice($toksSql, 1, 5), ' '))
         |      AS dkey
         |  FROM documents),
         |k AS (SELECT doc_id, source, nt,
         |    doc_id = min(doc_id) OVER (PARTITION BY dkey) AS keeper
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keepers,
         |  CAST(sum(nt) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN keeper THEN nt ELSE 0 END) AS BIGINT)
         |    AS tokens_kept,
         |  round(CAST(sum(nt) - sum(CASE WHEN keeper THEN nt
         |      ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(nt) AS DOUBLE) * 100.0, 6) AS savings_pct
         |FROM k GROUP BY 1""".stripMargin),

    // Tokenizer fertility per language — subwords-per-word, the
    // cost metric that decides tokenizer/vocab fit per language (a
    // high-fertility language pays more sequence length per word):
    // corpus-level Σsubtokens/Σtokens by lang tag, exact integer sums
    // with one rounded division. One narrow pass + a 5-row agg.
    Query("x28_fertility", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val subs = TextOps.subTokens(col("text"))
      Tables.documents(s, d)
        .select(col("lang"), size(toks).cast("long").as("nt"),
          size(subs).cast("long").as("ns"))
        .groupBy("lang")
        .agg(sum(col("nt")).as("n_tokens"),
          sum(col("ns")).as("n_subtokens"))
        .select(col("lang"), col("n_tokens"), col("n_subtokens"),
          round(col("n_subtokens").cast("double") /
            col("n_tokens").cast("double"), 6).as("fertility"))
    },
      // x28: same integer sums, one rounded division.
      s"""WITH t AS (SELECT lang,
         |    CAST(len($toksSql) AS BIGINT) AS nt,
         |    CAST(len(regexp_extract_all(text,
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS ns
         |  FROM documents)
         |SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(ns) AS BIGINT) AS n_subtokens,
         |  round(CAST(sum(ns) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6)
         |    AS fertility
         |FROM t GROUP BY 1""".stripMargin),

    // End-to-end curation pipeline — the COMPOSITION witness: language
    // gate (x2's argmax lang-ID), quality gate (x3's composite score,
    // compared on the ROUNDED value so the threshold cannot flip on an
    // ulp), exact-dedup keeper election (d1's 5-token-prefix key, min
    // doc_id wins), and a seeded 70% sample (x9's discipline), all
    // fused into one per-document verdict with per-stage flags — the
    // "why was this document dropped" lineage a production corpus
    // build must emit. One pass over the corpus + one dedup-key window;
    // every stage is a column, so Catalyst pipelines the whole thing
    // into a single stage before the window shuffle.
    Query("x27_curation_pipeline", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("pred_lang", TextOps.langId(toks))
        .withColumn("quality", round(TextOps.qualityScore(col("text")), 6))
        .withColumn("dkey", md5(concat_ws(" ", slice(toks, 1, 5))))
        .withColumn("in_sample",
          TextOps.md5Prefix60(concat(lit("samp27:"),
            col("doc_id").cast("string"))) % 100 < 70)
      base
        .withColumn("keeper", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy("dkey")))
        .select(col("doc_id"), col("pred_lang"), col("quality"),
          col("keeper"), col("in_sample"),
          (col("pred_lang") === "en" && col("quality") >= 0.5 &&
            col("keeper") && col("in_sample")).as("keep"))
    },
      // x27: the x2/x3/d1/x9 formulas fused, each stage a CTE; keep
      // compares the ROUNDED quality exactly as the Spark side does.
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks
         |           FROM documents),
         |sc AS (SELECT doc_id,
         |  CAST(len(list_intersect(list_distinct(toks), $enList))
         |    AS BIGINT) AS s_en,
         |  CAST(len(list_intersect(list_distinct(toks), $deList))
         |    AS BIGINT) AS s_de,
         |  CAST(len(list_intersect(list_distinct(toks), $esList))
         |    AS BIGINT) AS s_es,
         |  CAST(len(list_intersect(list_distinct(toks), $frList))
         |    AS BIGINT) AS s_fr,
         |  CAST(len(list_intersect(list_distinct(toks), $zhList))
         |    AS BIGINT) AS s_zh
         |  FROM t),
         |pl AS (SELECT doc_id, CASE
         |    WHEN s_en > 0 AND s_en = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'en'
         |    WHEN s_de > 0 AND s_de = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'de'
         |    WHEN s_es > 0 AND s_es = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'es'
         |    WHEN s_fr > 0 AND s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'fr'
         |    WHEN s_zh > 0 AND s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'zh'
         |    ELSE 'und' END AS pred_lang
         |  FROM sc),
         |q AS (SELECT doc_id,
         |    round(least(1.0, len(toks) / 100.0) *
         |      (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE length(regexp_replace(text, '[a-z0-9\\s]', '',
         |          'g')) / CAST(length(text) AS DOUBLE) END), 6)
         |      AS quality
         |  FROM t),
         |kp AS (SELECT doc_id,
         |    doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(array_to_string(list_slice(toks, 1, 5), ' ')))
         |      AS keeper
         |  FROM t),
         |sm AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(concat('samp27:',
         |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 70
         |      AS in_sample
         |  FROM documents)
         |SELECT pl.doc_id, pl.pred_lang, q.quality, kp.keeper,
         |  sm.in_sample,
         |  pl.pred_lang = 'en' AND q.quality >= 0.5 AND kp.keeper
         |    AND sm.in_sample AS keep
         |FROM pl JOIN q ON pl.doc_id = q.doc_id
         |  JOIN kp ON pl.doc_id = kp.doc_id
         |  JOIN sm ON pl.doc_id = sm.doc_id""".stripMargin),

    // BM25 ranking (k1=1.2, b=0.75): the standard lexical-retrieval
    // scorer over the corpus for a fixed 4-term query — the scoring
    // half of the x19 inverted index. Per-term tf is an IN-ROW count
    // over the cached token array (the query is a literal list, so no
    // doc×term explode and no posting join at all); the corpus-level
    // model (N, Σdl, per-term df) is ONE aggregate row broadcast to
    // every document. At 100 TB this is a single narrow pass over the
    // tokenization cache plus a 1-row broadcast — embarrassingly
    // parallel, zero data shuffles before the final bounded top-k
    // heap. FP parity discipline: the 4 term scores sum in fixed
    // left-to-right expression order (never a groupBy over doubles),
    // every arithmetic step is written in the identical operand order
    // as the oracle SQL, and ln-parity is already pinned by x21/x23.
    // Heaps-law vocabulary growth — the corpus diagnostic that answers
    // "is this crawl still adding NEW language or just more of the
    // same": documents are split into 10 equal doc-id deciles and each
    // decile reports the CUMULATIVE token count beside the cumulative
    // distinct vocabulary. The trick that makes it one pass instead of
    // 10 distinct-counts: a token's contribution to cumulative vocab
    // is fully determined by its FIRST-occurrence doc (min doc_id per
    // term off the shared tf cache), so vocab-per-decile is a
    // histogram of first-occurrence deciles, cumulated over a 10-row
    // spine (tiny frame — the window sees deciles, never tokens). All
    // integer decile math (exact div), spine-guaranteed 10 rows.
    Query("x32_heaps_vocab", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = tfFrame(s, d)
      val bounds = Tables.documents(s, d)
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val vocab = tf.groupBy("term").agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(bounds))
        .withColumn("decile",
          expr("((fd - lo) * 10) div (hi - lo + 1)"))
        .groupBy("decile").agg(count(lit(1)).as("v"))
      val toks = tf.groupBy("doc_id").agg(sum(col("tf")).as("nt"))
        .crossJoin(broadcast(bounds))
        .withColumn("decile",
          expr("((doc_id - lo) * 10) div (hi - lo + 1)"))
        .groupBy("decile").agg(sum(col("nt")).as("t"))
      val spine = Tables.documents(s, d).sparkSession.range(10)
        .select(col("id").as("decile"))
      val w = Window.orderBy("decile") // 10-row spine, never data
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(vocab, Seq("decile"), "left")
        .join(toks, Seq("decile"), "left")
        .select(col("decile"),
          sum(coalesce(col("t"), lit(0L))).over(w).as("n_tokens_cum"),
          sum(coalesce(col("v"), lit(0L))).over(w).as("vocab_cum"))
    },
      // sorted-fold entropy: both engines sum identical doubles in
      // identical order; + 0.0 normalizes -0.0 (single-distinct-token
      // docs produce exactly 0)
      // x32: same first-occurrence histogram + 10-row cumulative spine;
      // integer // decile math.
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term
         |      FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |      GROUP BY 1, 2),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |      FROM documents),
         |v AS (SELECT ((fd - lo) * 10) // (hi - lo + 1) AS decile,
         |      count(*) AS vv
         |      FROM (SELECT term, min(doc_id) AS fd FROM tf GROUP BY 1),
         |        b
         |      GROUP BY 1),
         |tk AS (SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS decile,
         |      CAST(sum(nt) AS BIGINT) AS tt
         |      FROM (SELECT doc_id, sum(tf) AS nt FROM tf GROUP BY 1),
         |        b
         |      GROUP BY 1),
         |sp AS (SELECT unnest(range(10)) AS decile)
         |SELECT CAST(sp.decile AS BIGINT) AS decile,
         |  CAST(sum(coalesce(tk.tt, 0)) OVER (ORDER BY sp.decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS n_tokens_cum,
         |  CAST(sum(coalesce(v.vv, 0)) OVER (ORDER BY sp.decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS vocab_cum
         |FROM sp LEFT JOIN v ON sp.decile = v.decile
         |LEFT JOIN tk ON sp.decile = tk.decile""".stripMargin,
      reads = Seq(tfFrame)),

    // Zipf-slope fit — the second corpus law: ln-rank vs ln-frequency
    // least squares over the top-100 terms. A healthy natural-language
    // corpus fits slope ≈ −1; boilerplate-heavy or synthetic text
    // bends it. Cross-engine discipline: each ln rounds to 9dp first
    // (libm vs JVM log may differ in the last ulp), the 100 (x, y)
    // pairs collect into ONE sorted array and fold in fixed order
    // (the ts8 discipline — no FP-sum partial-order drift), and the
    // closed-form slope/intercept derive from the four fold sums with
    // one rounded division each.
    Query("x33_zipf_slope", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = tfFrame(s, d).groupBy("term")
        .agg(sum(col("tf")).as("f"))
      val top = graft.operators.RelationalOps.topKGlobal(freq,
        Seq(col("f").desc, col("term").asc), 100)
      val w = Window.orderBy(col("f").desc, col("term").asc) // 100 rows
      val ranked = top
        .withColumn("r", row_number().over(w).cast("long"))
        .select(round(log(col("r").cast("double")), 9).as("x"),
          round(log(col("f").cast("double")), 9).as("y"))
      ranked.agg(array_sort(collect_list(struct(col("x"), col("y"))))
          .as("ps"))
        .select(size(col("ps")).cast("long").as("n_terms"),
          expr("aggregate(transform(ps, p -> array(p.x, p.y, " +
            "p.x * p.x, p.x * p.y)), " +
            "array(0.0d, 0.0d, 0.0d, 0.0d), " +
            "(a, b) -> array(a[0] + b[0], a[1] + b[1], a[2] + b[2], " +
            "a[3] + b[3]))").as("s"),
          size(col("ps")).cast("double").as("n"))
        .select(col("n_terms"),
          round((col("n") * col("s")(3) - col("s")(0) * col("s")(1)) /
            (col("n") * col("s")(2) - col("s")(0) * col("s")(0)), 6)
            .as("slope"),
          round((col("s")(1) - ((col("n") * col("s")(3) -
            col("s")(0) * col("s")(1)) /
            (col("n") * col("s")(2) - col("s")(0) * col("s")(0))) *
            col("s")(0)) / col("n"), 6).as("intercept"))
    },
      // x33: identical 9dp-rounded lns, identical sorted-array fold
      // (LIST accumulator — the ts8 list_reduce discipline), same
      // closed-form slope/intercept.
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term
         |      FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |      GROUP BY 1, 2),
         |fr AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM tf
         |      GROUP BY 1),
         |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, term)
         |        AS r
         |      FROM fr ORDER BY f DESC, term LIMIT 100),
         |xy AS (SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
         |      round(ln(CAST(f AS DOUBLE)), 9) AS y FROM top),
         |ps AS (SELECT list_sort(list(struct_pack(x := x, y := y)))
         |        AS ps
         |      FROM xy),
         |agg AS (SELECT CAST(len(ps) AS BIGINT) AS n_terms,
         |      CAST(len(ps) AS DOUBLE) AS n,
         |      list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0],
         |        list_transform(ps, p -> [p.x, p.y, p.x * p.x,
         |          p.x * p.y])),
         |        (a, b) -> [a[1] + b[1], a[2] + b[2], a[3] + b[3],
         |          a[4] + b[4]]) AS s
         |      FROM ps)
         |SELECT n_terms,
         |  round((n * s[4] - s[1] * s[2])
         |    / (n * s[3] - s[1] * s[1]), 6) AS slope,
         |  round((s[2] - ((n * s[4] - s[1] * s[2])
         |    / (n * s[3] - s[1] * s[1])) * s[1]) / n, 6) AS intercept
         |FROM agg""".stripMargin,
      reads = Seq(tfFrame)),

    Query("x24_bm25", (s, d) => {
      val terms = BmQueryTerms
      val docs = QueriesDedup.docsWithTokens(s, d)
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
          .as(s"df_$i")
      }
      val statCols = Seq(
        sum(size(col("toks")).cast("long")).as("sum_dl"),
        count(lit(1)).as("n_docs")) ++ dfCols
      val stats = docs.agg(statCols.head, statCols.tail: _*)
      val dl = size(col("toks")).cast("double")
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      def termScore(t: String, i: Int) = {
        val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
        val df = col(s"df_$i").cast("double")
        val idf = log(lit(1.0) +
          (col("n_docs").cast("double") - df + lit(0.5)) / (df + lit(0.5)))
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))
      }
      val score = terms.zipWithIndex.map { case (t, i) => termScore(t, i) }
        .reduce(_ + _)
      graft.operators.RelationalOps.topKGlobal(
        docs.crossJoin(broadcast(stats))
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            round(score, 6).as("bm25")),
        Seq(col("bm25").desc, col("doc_id").asc), 20)
    },
      // x24: BM25 with every arithmetic step in the identical operand
      // order as the Spark expression tree (fixed left-to-right 4-term
      // sum; ln-parity pinned by x21/x23), so the doubles are bit-equal
      // before the 6dp rounding and the rank cannot flip.
      {
      val dfSel = BmQueryTerms.zipWithIndex.map { case (t, i) =>
        s"""CAST(sum(CASE WHEN list_contains(toks, '$t')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS df_$i""".stripMargin
      }.mkString(",\n")
      val termSql = BmQueryTerms.zipWithIndex.map { case (t, i) =>
        s"""(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE)
           |      + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
           |  * (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
           |      * 2.2)
           |  / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
           |      + 1.2 * (0.25 + 0.75 * CAST(len(toks) AS DOUBLE)
           |        / (CAST(sum_dl AS DOUBLE)
           |          / CAST(n_docs AS DOUBLE)))))""".stripMargin
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |st AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS sum_dl,
         |  count(*) AS n_docs,
         |$dfSel
         |  FROM t),
         |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |  round($termSql, 6) AS bm25
         |  FROM t, st)
         |SELECT doc_id, dl, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    },
      reads = Seq(QueriesDedup.docsWithTokens)),

    // BPE-style merge training, distributed the way it actually scales:
    // ONE corpus pass builds the word-frequency vocab (Heaps' law keeps
    // it orders of magnitude smaller than the corpus), then every merge
    // round iterates over the VOCAB frame only — adjacent-pair counts
    // weighted by word frequency, argmax pair (freq desc, pair asc
    // tiebreak), and an in-plan leftmost non-overlapping merge applied
    // via a broadcast of the 1-row winner. No driver collect anywhere:
    // the winning pair flows through `crossJoin(broadcast(limit(1)))`
    // and the merge itself is an `aggregate` fold over each symbol
    // array (seed [syms[0]]; append, or replace the tail element when
    // (last, next) equals the winner — exactly BPE's left-to-right
    // non-overlapping rule). Each round's vocab is guard-persisted so
    // the two consumers per round (pair counts + next merge) read one
    // materialization instead of doubling the lineage. Output: the
    // merge table itself — round, pair, weighted frequency.
    Query("x35_bpe_merges", (s, d) => bpeMerges(s, d),
      bpeOracleSql,
      reads = Seq(bpeChainFrames)),

    // Stupid-backoff trigram LM scored across a REAL train/held-out
    // boundary: the model (c3/c2/c1/N/V) trains on the largest source
    // (docs desc, source asc tiebreak) and scores every document from
    // the OTHER sources — so the trigram→bigram→unigram backoff chain
    // actually fires (training on the full corpus would make every
    // observed trigram a model hit and the backoff dead code). Model
    // tables are vocab-bounded aggregates (the x21/x23 discipline);
    // c1/c2 are guard-persisted because each is joined twice (prefix
    // and suffix legs). S(w3|w1,w2) = c3/c2(w1w2), else 0.4·c2(w2w3)/
    // c1(w2), else 0.16·laplace(w3); ln is rounded to 9dp BEFORE the
    // sorted fold (ln is not IEEE-correctly-rounded, so the fold input
    // itself must be pinned), one 6dp round at output. bo_rate — the
    // fraction of trigram mass that backed off — is the per-doc
    // "how out-of-domain is this" number a mixture builder reads.
    Query("x36_backoff_lm", (s, d) => {
      val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val train = srcs.groupBy("source").agg(count(lit(1)).as("nd"))
        .orderBy(col("nd").desc, col("source")).limit(1)
        .select(col("source").as("train_src"))
      val c1 = lmUnigrams(s, d)
      val c2 = lmBigrams(s, d)
      val stats = c1.agg(sum(col("c1")).as("ntok"),
        count(lit(1)).as("vsz"))
      val tg = QueriesDedup.docsWithTokens(s, d)
        .join(srcs, "doc_id").crossJoin(broadcast(train))
        .filter(col("source") =!= col("train_src"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 2),
          i => array(element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("t"))
        .groupBy(col("doc_id"), col("t")(0).as("w1"),
          col("t")(1).as("w2"), col("t")(2).as("w3"))
        .agg(count(lit(1)).as("tf3"))
      val c3 = lmTrigrams(trainToks(s, d))
      val joined = tg
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(c2.select(col("wa").as("w1"), col("wb").as("w2"),
          col("c2").as("c2p")), Seq("w1", "w2"), "left")
        .join(c2.select(col("wa").as("w2"), col("wb").as("w3"),
          col("c2").as("c2s")), Seq("w2", "w3"), "left")
        .join(c1.select(col("w").as("w2"), col("c1").as("c1w2")),
          Seq("w2"), "left")
        .join(c1.select(col("w").as("w3"), col("c1").as("c1w3")),
          Seq("w3"), "left")
        .crossJoin(broadcast(stats))
      val score = when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2p").cast("double"))
        .when(col("c2s").isNotNull,
          lit(0.4) * col("c2s").cast("double") / col("c1w2").cast("double"))
        .otherwise(lit(0.4) * lit(0.4) *
          (coalesce(col("c1w3"), lit(0L)).cast("double") + lit(1.0)) /
          (col("ntok").cast("double") + col("vsz").cast("double")))
      joined
        .select(col("doc_id"), col("tf3"),
          when(col("c3").isNull, col("tf3")).otherwise(lit(0L)).as("bon"),
          (col("tf3").cast("double") * round(log(score), 9)).as("contrib"))
        .groupBy("doc_id")
        .agg(sum(col("tf3")).as("n_trigrams"),
          sum(col("bon")).as("bo_n"),
          array_sort(collect_list(col("contrib"))).as("cs"))
        .select(col("doc_id"), col("n_trigrams"),
          round(col("bo_n").cast("double") /
            col("n_trigrams").cast("double"), 6).as("bo_rate"),
          round(-aggregate(col("cs"), lit(0.0), (a, x) => a + x) /
            col("n_trigrams").cast("double"), 6).as("avg_nll3"))
    },
      s"""WITH tr AS (SELECT source FROM documents GROUP BY source
         |  ORDER BY count(*) DESC, source LIMIT 1),
         |tt AS (SELECT $toksSql AS toks FROM documents d
         |  JOIN tr ON d.source = tr.source),
         |u AS (SELECT unnest(toks) AS w FROM tt),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u
         |  GROUP BY w),
         |b AS (SELECT unnest(list_transform(range(len(toks) - 1),
         |    i -> [toks[i + 1], toks[i + 2]])) AS p
         |  FROM tt WHERE len(toks) >= 2),
         |c2 AS (SELECT p[1] AS wa, p[2] AS wb,
         |    CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY 1, 2),
         |t3 AS (SELECT unnest(list_transform(range(len(toks) - 2),
         |    i -> [toks[i + 1], toks[i + 2], toks[i + 3]])) AS t
         |  FROM tt WHERE len(toks) >= 3),
         |c3 AS (SELECT t[1] AS w1, t[2] AS w2, t[3] AS w3,
         |    CAST(count(*) AS BIGINT) AS c3 FROM t3 GROUP BY 1, 2, 3),
         |st AS (SELECT CAST(sum(c1) AS BIGINT) AS ntok,
         |    CAST(count(*) AS BIGINT) AS vsz FROM c1),
         |sd AS (SELECT d.doc_id, $toksSql AS toks FROM documents d, tr
         |  WHERE d.source <> tr.source),
         |dt AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
         |    i -> [toks[i + 1], toks[i + 2], toks[i + 3]])) AS t
         |  FROM sd WHERE len(toks) >= 3),
         |tf AS (SELECT doc_id, t[1] AS w1, t[2] AS w2, t[3] AS w3,
         |    CAST(count(*) AS BIGINT) AS tf3 FROM dt GROUP BY 1, 2, 3, 4),
         |j AS (SELECT tf.doc_id, tf.tf3, c3.c3, p.c2 AS c2p,
         |    sx.c2 AS c2s, u2.c1 AS c1w2, u3.c1 AS c1w3, st.ntok, st.vsz
         |  FROM tf
         |  LEFT JOIN c3 ON c3.w1 = tf.w1 AND c3.w2 = tf.w2
         |    AND c3.w3 = tf.w3
         |  LEFT JOIN c2 p ON p.wa = tf.w1 AND p.wb = tf.w2
         |  LEFT JOIN c2 sx ON sx.wa = tf.w2 AND sx.wb = tf.w3
         |  LEFT JOIN c1 u2 ON u2.w = tf.w2
         |  LEFT JOIN c1 u3 ON u3.w = tf.w3
         |  CROSS JOIN st),
         |sc AS (SELECT doc_id, tf3,
         |    CASE WHEN c3 IS NULL THEN tf3 ELSE 0 END AS bon,
         |    CAST(tf3 AS DOUBLE) * round(ln(
         |      CASE WHEN c3 IS NOT NULL
         |        THEN CAST(c3 AS DOUBLE) / CAST(c2p AS DOUBLE)
         |      WHEN c2s IS NOT NULL
         |        THEN CAST(0.4 AS DOUBLE) * CAST(c2s AS DOUBLE)
         |          / CAST(c1w2 AS DOUBLE)
         |      ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
         |        * (CAST(coalesce(c1w3, 0) AS DOUBLE) + 1.0)
         |        / (CAST(ntok AS DOUBLE) + CAST(vsz AS DOUBLE)) END), 9)
         |      AS contrib
         |  FROM j),
         |g AS (SELECT doc_id, CAST(sum(tf3) AS BIGINT) AS n_trigrams,
         |    CAST(sum(bon) AS BIGINT) AS bo_n,
         |    list_sort(list(contrib)) AS cs
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_trigrams,
         |  round(CAST(bo_n AS DOUBLE) / CAST(n_trigrams AS DOUBLE), 6)
         |    AS bo_rate,
         |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cs),
         |    (a, x) -> a + x) / CAST(n_trigrams AS DOUBLE), 6)
         |    AS avg_nll3
         |FROM g""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens, lmBigrams, lmUnigrams)),

    // Trained-tokenizer ENCODE — the apply half of x35's train loop:
    // every corpus word re-segments under the trained merges (the
    // final vocab of the SAME persisted chain — train once, encode
    // everywhere; CacheManager plan equality makes x35 and x37 read
    // one materialization). The per-source ledger reports what the
    // tokenizer actually buys: words, characters, BPE tokens, tokens
    // per word (TRAINED fertility — x28 measures the regex-subtoken
    // proxy; this is the real thing) and chars per token. The encode
    // join broadcasts the unique-word vocabulary (Heaps-law sublinear
    // in corpus size), so the corpus side never shuffles for the
    // lookup: one narrow explode + broadcast join + bounded agg at
    // any scale — exactly how a 100 TB corpus is tokenized against a
    // trained merges table.
    Query("x37_bpe_encode", (s, d) => {
      val enc = bpeChain(s, d)._1
        .select(col("word"), size(col("syms")).cast("long").as("ntok"))
      val srcs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
      QueriesDedup.docsWithTokens(s, d)
        .join(srcs, "doc_id")
        .select(col("source"), explode(col("toks")).as("tok"))
        .select(col("source"), lower(col("tok")).as("word"))
        .filter(col("word").rlike(BpeWordRe))
        .join(broadcast(enc), "word")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_chars"),
          sum(col("ntok")).as("n_bpe_tokens"))
        .select(col("source"), col("n_words"), col("n_chars"),
          col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") /
            col("n_words").cast("double"), 6).as("bpe_fertility"),
          round(col("n_chars").cast("double") /
            col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"))
    },
      bpeEncodeOracleSql,
      reads = Seq(QueriesDedup.docsWithTokens, bpeChainFrames)),

    // Token-budget WATERFILLING — the mixture-planning step between
    // x31 (temperature weights) and the samplers (x9/x22): given a
    // token budget B (half the corpus) and per-source demand weights
    // (doc counts), allocate alloc_s = min(avail_s, λ·w_s) with the
    // unique λ solving Σ alloc = B. Small sources saturate (take all
    // their tokens), big ones cap at λ·w — the standard cap-and-
    // redistribute law every corpus mixer implements. λ is found by
    // the closed form over sources sorted by avail/weight: for the
    // unique prefix k of saturated sources, λ_k = (B − A_k)/(W − W_k)
    // with the boundary checks r_k ≤ λ_k < r_{k+1} — one bounded
    // window (source-catalog-sized frame: the ORDER BY spans sources,
    // never rows) + one broadcast of the 1-row λ. Doubles appear only
    // in ratios with identical expression shapes on both engines;
    // the prefix sums are exact integers.
    Query("x38_token_budget", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val srcs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
      val per = QueriesDedup.docsWithTokens(s, d)
        .join(srcs, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("avail"))
      val tot = per.agg(sum(col("avail")).as("atot"),
        sum(col("n_docs")).as("wtot"),
        expr("CAST(sum(avail) DIV 2 AS BIGINT)").as("budget"))
      val wr = per.select(col("source"), col("n_docs"), col("avail"),
        (col("avail").cast("double") / col("n_docs").cast("double"))
          .as("r"))
      val win = Window.orderBy(col("r").asc, col("source").asc)
      val rows = wr
        .withColumn("ak", sum(col("avail")).over(win))
        .withColumn("wk", sum(col("n_docs")).over(win))
        .withColumn("rnext", lead(col("r"), 1).over(win))
        .crossJoin(broadcast(tot))
        // the k = n arm ("all sources saturated") needs B ≥ Σ avail —
        // impossible with B = Σ/2 — and its divisor is 0 (ANSI-fatal):
        // drop it before the division
        .filter(col("wk") < col("wtot"))
        .select(col("r"), col("rnext"),
          ((col("budget") - col("ak")).cast("double") /
            (col("wtot") - col("wk")).cast("double")).as("lam"),
          col("budget"))
      val sentinel = tot
        .crossJoin(broadcast(wr.agg(min(col("r")).as("rnext"))))
        .select(lit(0.0).as("r"), col("rnext"),
          (col("budget").cast("double") / col("wtot").cast("double"))
            .as("lam"),
          col("budget"))
      val lamRow = rows.unionByName(sentinel)
        .filter(col("r") <= col("lam") &&
          (col("rnext").isNull || col("rnext") > col("lam")))
        .select(col("lam"), col("budget"))
      wr.crossJoin(broadcast(lamRow))
        .select(col("source"), col("n_docs"),
          col("avail").as("tokens_avail"), col("budget"),
          round(col("lam"), 6).as("lambda"),
          round(least(col("avail").cast("double"),
            col("lam") * col("n_docs").cast("double")), 6).as("alloc"),
          (col("avail").cast("double") <=
            col("lam") * col("n_docs").cast("double")).cast("long")
            .as("saturated"))
    },
      // x38: identical closed form — exact integer prefix sums over the
      // ratio-sorted sources, λ candidates with the same boundary
      // checks (the impossible k=n arm is filtered out BEFORE its
      // zero-divisor division, mirroring the Spark side's ANSI guard;
      // the k=0 sentinel mirrors the Spark union), alloc/saturated in
      // the same expression shapes.
      s"""WITH per AS (SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS avail
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(avail) AS atot, sum(n_docs) AS wtot,
         |    CAST(sum(avail) // 2 AS BIGINT) AS budget FROM per),
         |wr AS (SELECT source, n_docs, avail,
         |    CAST(avail AS DOUBLE) / CAST(n_docs AS DOUBLE) AS r
         |  FROM per),
         |rws AS (SELECT r,
         |    sum(avail) OVER wd AS ak, sum(n_docs) OVER wd AS wk,
         |    lead(r) OVER wd AS rnext
         |  FROM wr WINDOW wd AS (ORDER BY r, source)),
         |cand AS (SELECT lam, budget FROM (
         |    SELECT r, rnext,
         |      CAST(budget - ak AS DOUBLE)
         |        / CAST(wtot - wk AS DOUBLE) AS lam, budget
         |    FROM rws, tot WHERE wk < wtot
         |    UNION ALL
         |    SELECT 0.0, (SELECT min(r) FROM wr),
         |      CAST(budget AS DOUBLE) / CAST(wtot AS DOUBLE), budget
         |    FROM tot)
         |  WHERE r <= lam AND (rnext IS NULL OR rnext > lam))
         |SELECT w.source, w.n_docs, w.avail AS tokens_avail, c.budget,
         |  round(c.lam, 6) AS lambda,
         |  round(least(CAST(w.avail AS DOUBLE),
         |    c.lam * CAST(w.n_docs AS DOUBLE)), 6) AS alloc,
         |  CAST(CASE WHEN CAST(w.avail AS DOUBLE)
         |      <= c.lam * CAST(w.n_docs AS DOUBLE)
         |    THEN 1 ELSE 0 END AS BIGINT) AS saturated
         |FROM wr w, cand c""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)),

    // Deterministic-sampling and sequence-packing queries (training-data
    // curation, SURVEY.md §2.10) live in the x-family too.

    // Seeded Bernoulli sample: keep a doc iff its seeded hash bucket
    // falls under the rate. Reproducible across engines/runs/reshuffles
    // (rand() is none of those), and a DIFFERENT seed gives an
    // independent resample — the property curation pipelines need when
    // they draw eval sets repeatedly. Pure narrow projection.
    Query("x9_hash_sample", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          (TextOps.md5Prefix60(
            concat(lit("samp1:"), col("doc_id").cast("string"))) % 10000)
            .as("bucket"))
        .filter(col("bucket") < 1000) // 10% sample
    },
      """WITH b AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('samp1:',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000
        |    AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket FROM b WHERE bucket < 1000""".stripMargin),

    // Stratified sample: top-3 docs per predicted language, ranked by a
    // seeded hash (uniform within stratum), tie-broken by doc_id. One
    // window over strata — at 100 TB the rank state is O(1) per
    // partition stream and only sampled rows survive the filter.
    Query("x10_stratified_sample", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val strat = Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.langId(toks).as("pred_lang"),
        TextOps.md5Prefix60(
          concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
      graft.operators.RelationalOps.topKPerGroup(strat, Seq("pred_lang"),
        Seq(col("h").asc, col("doc_id").asc), 3, rankCol = "rank")
        .select(col("pred_lang"), col("doc_id"), col("h"),
          col("rank").cast("long").as("rank"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS dt
         |           FROM documents),
         |sc AS (SELECT doc_id,
         |  CAST(len(list_intersect(dt, $enList)) AS BIGINT) AS s_en,
         |  CAST(len(list_intersect(dt, $deList)) AS BIGINT) AS s_de,
         |  CAST(len(list_intersect(dt, $esList)) AS BIGINT) AS s_es,
         |  CAST(len(list_intersect(dt, $frList)) AS BIGINT) AS s_fr,
         |  CAST(len(list_intersect(dt, $zhList)) AS BIGINT) AS s_zh
         |  FROM t),
         |l AS (SELECT doc_id,
         |  CASE
         |    WHEN s_en > 0 AND s_en = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'en'
         |    WHEN s_de > 0 AND s_de = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'de'
         |    WHEN s_es > 0 AND s_es = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'es'
         |    WHEN s_fr > 0 AND s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'fr'
         |    WHEN s_zh > 0 AND s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh)
         |      THEN 'zh'
         |    ELSE 'und' END AS pred_lang
         |  FROM sc),
         |h AS (SELECT doc_id, pred_lang,
         |  CAST(concat('0x', substr(md5(concat('strat:',
         |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
         |  FROM l),
         |r AS (SELECT pred_lang, doc_id, h,
         |  row_number() OVER (PARTITION BY pred_lang ORDER BY h, doc_id)
         |    AS rank
         |  FROM h)
         |SELECT pred_lang, doc_id, h, rank FROM r WHERE rank <= 3"""
        .stripMargin),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    // each doc draws a seeded-hash uniform u ∈ (0,1) and competes on
    // key = ln(u)/w (monotone in u^(1/w)) with w = n_chars — longer
    // documents proportionally likelier, yet the draw is a single
    // GLOBAL top-k with no per-stratum bookkeeping. This is the
    // standard one-pass distributed weighted sampler (corpus mixing by
    // size/quality weights): per-partition bounded heaps via
    // TakeOrderedAndProject, O(k) state, no sort of the corpus, fully
    // deterministic across engines/reshuffles (the x9 seeded-hash
    // discipline — never rand()). Selection ranks on the UNROUNDED key
    // (ties impossible: 60-bit distinct hashes), output rounds to 6dp.
    Query("x22_weighted_sample", (s, d) => {
      val u = (TextOps.md5Prefix60(
        concat(lit("wsamp:"), col("doc_id").cast("string")))
        .cast("double") + lit(0.5)) / lit(1.152921504606846976e18)
      val key = log(u) / col("n_chars").cast("double")
      val scored = Tables.documents(s, d)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"), key.as("wkey"))
      graft.operators.RelationalOps.topKGlobal(scored,
          Seq(col("wkey").desc, col("doc_id").asc), 200)
        .select(col("doc_id"), col("n_chars"), round(col("wkey"), 6)
          .as("wkey"))
    },
      // x22: selection ranks on the unrounded A-ES key (60-bit distinct
      // hashes make ties impossible), output rounds to 6dp.
      """WITH h AS (SELECT doc_id, n_chars,
        |  ln((CAST(CAST(concat('0x', substr(md5(concat('wsamp:',
        |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
        |    + 0.5) / 1152921504606846976.0)
        |    / CAST(n_chars AS DOUBLE) AS wkey
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, n_chars, wkey FROM h
        |      ORDER BY wkey DESC, doc_id LIMIT 200)
        |SELECT doc_id, n_chars, round(wkey, 6) AS wkey FROM k"""
        .stripMargin
  ),

    // RAG-style document chunking: 64-token sliding windows at stride
    // 48 (16-token overlap) per document — the "split long docs into
    // retrievable/trainable chunks" step every retrieval and packing
    // pipeline runs before embedding. Rides the shared tokenization
    // cache (no re-tokenize, no Generate-clone re-evaluation), then a
    // pure narrow explode: zero shuffle, embarrassingly parallel.
    // Chunk identity is the md5-60 hash of the space-joined window —
    // the downstream dedup/embedding key. x18 consumes the SAME
    // [[chunkFrame]], so chunk identity cannot drift between them.
    Query("x17_chunk_overlap", (s, d) => chunkFrame(s, d),
      s"""WITH $chunkCte
         |SELECT doc_id, chunk_idx, start, n_chunk_tokens, chunk_hash
         |FROM c""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)),

    // Chunk-level boilerplate mining: the 64-token windows from x17's
    // chunker, grouped by chunk hash — a chunk appearing in 2+ DISTINCT
    // documents is shared boilerplate (headers, footers, licenses,
    // navigation), the thing curation pipelines strip before training.
    // Works at sub-document granularity where whole-doc dedup (d1) and
    // near-dup (d2) can't see. Alignment-sensitive by construction:
    // fixed-stride windows collide only at matching offsets (shared
    // prefixes, duplicated docs) — a production pipeline chunks on
    // line/sentence boundaries to catch arbitrary-offset boilerplate,
    // with the identical aggregate shape. That shape is the point:
    // one hash-agg shuffle with map-side partials over the chunk
    // hashes + a bounded top-k — linear at any corpus size. Consumes
    // [[chunkFrame]] — the exact frame x17 returns — so the mined
    // hashes are BY CONSTRUCTION the chunk identities x17 emits
    // (Catalyst prunes the columns this aggregate doesn't read).
    Query("x18_boilerplate", (s, d) => {
      val shared = chunkFrame(s, d).groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
      graft.operators.RelationalOps.topKGlobal(shared,
        Seq(col("n_docs").desc, col("n_occurrences").desc,
          col("chunk_hash").asc), 20)
    },
      s"""WITH $chunkCte,
         |g AS (SELECT chunk_hash,
         |      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |      count(*) AS n_occurrences
         |      FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
         |SELECT chunk_hash, n_docs, n_occurrences FROM g
         |ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
         |LIMIT 20""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)),

    // Sequence packing: assign docs to fixed-boundary token bins
    // (budget 2048) per train/val/test split, in doc_id order — the
    // deterministic version of the "pack documents into training
    // sequences" step. bin = floor(start_offset / budget) where
    // start_offset is the running token count BEFORE the doc (an
    // explicit ROWS frame — RANGE buffers peers and is ambiguous under
    // ties). One sort-shuffle per split at any scale; a production
    // packer would run the same fold per partition via mapPartitions
    // after a range-partition on (split, doc_id).
    Query("x11_pack_sequences", (s, d) => {
      val docs = Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        when(TextOps.md5Prefix60(
          concat(lit("split:"), col("doc_id").cast("string"))) % 100 < 80,
          "train").when(TextOps.md5Prefix60(
          concat(lit("split:"), col("doc_id").cast("string"))) % 100 < 90,
          "val").otherwise("test").as("split"))
      graft.operators.RelationalOps.runningAgg(docs, Seq("split"),
        Seq(col("doc_id").asc), sum(col("n_tokens")), "cum_tokens")
        .select(col("split"), col("doc_id"), col("n_tokens"),
          ((col("cum_tokens") - col("n_tokens")) / 2048)
            .cast("long").as("bin"))
    },
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  CASE WHEN CAST(concat('0x', substr(md5(concat('split:',
         |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 80
         |    THEN 'train'
         |    WHEN CAST(concat('0x', substr(md5(concat('split:',
         |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 90
         |    THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |c AS (SELECT split, doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum
         |  FROM t)
         |SELECT split, doc_id, n_tokens, (cum - n_tokens) // 2048 AS bin
         |FROM c""".stripMargin),

    // Inverted index build: token → document frequency + the first (by
    // doc_id) MaxPostings postings — the retrieval structure a search /
    // RAG pipeline materializes over the corpus. The posting list is
    // BOUNDED STATE: the native TopKAgg heap keeps the k smallest
    // doc_ids per (partition, token) — a collect_list-then-slice would
    // buffer the FULL df(token) list for every stopword ("the" at
    // 100 TB is billions of ids in one aggregation buffer) before
    // throwing almost all of it away. doc_ids ride the heap negated
    // (smallest-k = top-k of the negation; exact — ids < 2^53 are
    // double-exact), df >= MinDf prunes the hapax tail that a real
    // index drops into a separate spill tier.
    // Token-distribution Shannon entropy per document — the
    // gibberish/repetition detector that complements x3's ratio-based
    // quality score: near-zero entropy = one token stamped over and
    // over (spam/boilerplate), high entropy = diverse vocabulary. A
    // transcendental made oracle-safe by the f3 discipline: per-token
    // counts fold in SORTED order (both engines add the same doubles
    // in the same sequence), log2 differences live past 6dp, and the
    // + 0.0 normalizes any -0.0 before the round. One explode + two
    // hash-aggs, nothing quadratic.
    Query("x20_entropy", (s, d) => {
      QueriesDedup.docsWithTokens(s, d)
        .select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sort_array(collect_list(col("c"))).as("cs"),
          sum(col("c")).as("n"))
        .select(col("doc_id"), col("n"),
          size(col("cs")).cast("long").as("n_distinct"),
          round(aggregate(col("cs"), lit(0.0),
            (acc, c) => acc - (c / col("n")) * log2(c / col("n")))
            + lit(0.0), 6).as("token_entropy"))
    },
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |c AS (SELECT doc_id, tk, count(*) AS c FROM e GROUP BY 1, 2),
         |g AS (SELECT doc_id, list_sort(list(CAST(c AS DOUBLE))) AS cs,
         |      sum(c) AS n FROM c GROUP BY 1)
         |SELECT doc_id, CAST(n AS BIGINT) AS n,
         |  CAST(len(cs) AS BIGINT) AS n_distinct,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cs),
         |    (acc, x) -> acc - (x / n) * log2(x / n)) + 0.0, 6)
         |    AS token_entropy
         |FROM g""".stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)),

    Query("x19_inverted_index", (s, d) => {
      val ex = QueriesDedup.docsWithTokens(s, d)
        .select(explode(array_distinct(col("toks"))).as("token"),
          col("doc_id"))
      ex.groupBy("token").agg(
          count(lit(1)).as("df"),
          org.apache.spark.sql.graft.AnalyticsAggregates
            .topK(negate(col("doc_id").cast("double")), MaxPostings)
            .as("neg"))
        .filter(col("df") >= MinDf)
        // exploded to scalar (token, df, doc_id) rows: doc_ids are
        // distinct per token, so the exploded multiset is exactly the
        // capped posting SET — deterministic, and row-hashable by the
        // driver (array cells are not).
        .select(col("token"), col("df"),
          explode(transform(col("neg"), x => negate(x).cast("long")))
            .as("doc_id"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS dt
         |      FROM documents),
         |e AS (SELECT doc_id, unnest(dt) AS token FROM t),
         |g AS (SELECT token, count(*) AS df,
         |    list_slice(list_sort(list(doc_id)), 1, $MaxPostings)
         |      AS postings
         |  FROM e GROUP BY token HAVING count(*) >= $MinDf)
         |SELECT token, df, unnest(postings) AS doc_id FROM g"""
        .stripMargin,
      reads = Seq(QueriesDedup.docsWithTokens)))

  /** x35's merge-round count (mirrored in the oracle builder). */
  val BpeRounds: Int = 6

  /** x35's word shape filter: lowercased alphabetic, bounded length —
    * bounds the per-word symbol array (and so the pair expansion) at
    * any corpus scale (mirrored in the oracle).
    */
  private val BpeWordRe = "^[a-z]{1,16}$"

  /** The shared x35/x37 training chain: vocab build + [[BpeRounds]]
    * in-plan merge rounds, with `word` carried through every round so
    * the trained segmentation can be joined back to the corpus (x37's
    * encode pass). Each round's vocab is guard-persisted (tfFrame
    * pattern) — without it the pair-count branch and the merge branch
    * would each re-derive the whole previous-round chain, doubling
    * work per round (2^R overall); the plan-equality guard also means
    * x35 and x37 share ONE materialized chain per scale dir.
    * Returns (final vocab (word, syms, freq), merge-rounds table).
    */
  private def bpeChain(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (frames, rounds) = bpeChainFrames(s, d)
    (frames.last, rounds)
  }

  /** The chain memo: x35 and x37 share the SAME frame objects per
    * (session, scale dir). Sharing used to ride CacheManager
    * plan-equality (guard-persist), but the chain's analyzed plan
    * DOUBLES per round — round r's vocab references round r−1 twice
    * (once in the pair-count argmax, once in the merge fold), so each
    * invocation re-ANALYZED a 2^R-copy tree (~6 s of pure Catalyst
    * analysis per x35/x37 call at ANY scale, measured: the x37 plan
    * rendered 414 nested InMemoryRelations). The fix is the graph
    * loops' per-round lineage cut (`GraphOps.cut`), made EAGER here:
    * [[SessionMemo.retain]] checkpoints each round (constant-size
    * LogicalRDD plans), and the frames are shared by OBJECT IDENTITY
    * through [[SessionMemo]], since a LogicalRDD can't be found by
    * plan equality. localCheckpoint is the single-process form; a
    * resilient cluster deployment would use checkpoint() to
    * durable storage — same shape, same truncation.
    */
  private lazy val bpeChainFrames = SharedFrame.memoized(
      "text.bpe_chain", QueriesDedup.docsWithTokens)(
      (_: (Seq[DataFrame], DataFrame))._1.last) { (s, d) =>
    val persistedFrames = Seq.newBuilder[DataFrame]
    // eager lineage cut: materializes NOW (so the whole ladder build
    // lands on the [bench-cache] line / first caller, never split
    // across consumers) and truncates the plan to a LogicalRDD
    def persisted(df: DataFrame): DataFrame = {
      val out = SessionMemo.retain(df)
      persistedFrames += out
      out
    }
    var vocab = persisted(QueriesDedup.docsWithTokens(s, d)
      .select(explode(col("toks")).as("tok"))
      .select(lower(col("tok")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"), col("freq")))
    val rounds = (1 to BpeRounds).map { r =>
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r")).limit(1)
      // Exhaustion guard: when no pair remains (tiny/degenerate corpus
      // trained past its merge capacity), `top` is EMPTY and a bare
      // cross join would empty the vocab — x35's rounds table just
      // loses its row (correct), but x37's encode would lose the whole
      // segmentation. The NULL sentinel (pf = −1, outranked by any
      // real pair) turns the merge fold into a no-op: NULL = x is
      // NULL, so every element takes the append branch.
      val topOrNoop = top.unionAll(s.range(1).select(
          lit(null).cast("string").as("l"),
          lit(null).cast("string").as("r"), lit(-1L).as("pf")))
        .orderBy(col("pf").desc).limit(1)
      vocab = persisted(vocab.crossJoin(broadcast(topOrNoop))
        .select(col("word"), aggregate(
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          slice(col("syms"), lit(1), lit(1)),
          (acc, x) => when(
            element_at(acc, -1) === col("l") && x === col("r"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(col("l"), col("r")))))
            .otherwise(concat(acc, array(x)))).as("syms"),
          col("freq")))
      top.select(lit(r.toLong).as("merge_round"), col("l").as("lhs"),
        col("r").as("rhs"), col("pf").as("pair_freq"))
    }
    (persistedFrames.result(), rounds.reduce(_ unionAll _))
  }

  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeChain(s, d)._2

  /** x36's training corpus: token arrays of the largest source (docs
    * desc, source asc tiebreak) — shared by the c1/c2 frames and x36's
    * trigram leg.
    */
  private def trainToks(s: SparkSession, d: String): DataFrame = {
    val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val train = srcs.groupBy("source").agg(count(lit(1)).as("nd"))
      .orderBy(col("nd").desc, col("source")).limit(1)
      .select(col("source").as("train_src"))
    QueriesDedup.docsWithTokens(s, d)
      .join(srcs, "doc_id").join(broadcast(train),
        col("source") === col("train_src"))
      .select(col("toks"))
  }

  /** Train-corpus n-gram model tables for x36 — c1/c2 are joined twice
    * each (prefix and suffix legs), so both are guard-persisted.
    */
  private lazy val lmUnigrams = SharedFrame.persisted(
      "text.lm_unigrams", QueriesDedup.docsWithTokens) { (s, d) =>
    trainToks(s, d).select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
  }

  private lazy val lmBigrams = SharedFrame.persisted(
      "text.lm_bigrams", QueriesDedup.docsWithTokens) { (s, d) =>
    trainToks(s, d).filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
      .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .agg(count(lit(1)).as("c2"))
  }

  private def lmTrigrams(trainToks: DataFrame): DataFrame =
    trainToks.filter(size(col("toks")) >= 3)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 2),
        i => array(element_at(col("toks"), i),
          element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))).as("t"))
      .groupBy(col("t")(0).as("w1"), col("t")(1).as("w2"),
        col("t")(2).as("w3"))
      .agg(count(lit(1)).as("c3"))

  /** x24's fixed query terms (chosen from the corpus vocabulary so tf
    * and df both vary; mirrored literally in the oracle SQL).
    */
  private val BmQueryTerms = Seq("vector", "merge", "window", "scan")

  /** x19's posting-list cap and df floor (mirrored in the oracle). */
  val MaxPostings: Int = 20
  val MinDf: Int = 5

  /** x17/x18's shared chunk frame: (doc_id, chunk_idx, start,
    * n_chunk_tokens, chunk_hash) — x17 returns it verbatim, x18
    * aggregates over it, so a geometry or hashing edit changes both
    * queries together (chunk identity cannot silently desynchronize).
    */
  private def chunkFrame(s: SparkSession, d: String): DataFrame =
    QueriesDedup.docsWithTokens(s, d)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(TextOps.tokenChunks(col("toks"), ChunkSize, ChunkStride))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.start").as("start"),
        size(col("c.chunk")).cast("long").as("n_chunk_tokens"),
        TextOps.md5Prefix60(concat_ws(" ", col("c.chunk")))
          .as("chunk_hash"))

  /** Per-document term frequencies, PERSISTED (the docsWithTokens house
    * pattern: CacheManager plan-equality makes re-invocations reuse the
    * entry). The `tf` subtree feeds BOTH branches of x8's term join —
    * the tf rows themselves and the df aggregate over them — and
    * `ReuseExchange` only deduplicates identical exchanges by luck of
    * physical planning; the cache makes the reuse structural, so
    * tokenize + explode + count runs ONCE per scale dir and the join
    * reads materialized rows on both sides. Tokenization itself comes
    * from the dedup family's shared cache ([[QueriesDedup.docsWithTokens]]),
    * which also spreads the single-split scan across the machine. At
    * 100 TB this is the same "aggregate once → checkpoint → fan out"
    * discipline as the signature frames.
    */
  private lazy val tfFrame = SharedFrame.persisted(
      "text.tf", QueriesDedup.docsWithTokens) { (s, d) =>
    QueriesDedup.docsWithTokens(s, d)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
  }

  /** Per-document bigram frequencies, PERSISTED (the tfFrame pattern at
    * bigram granularity): the in-row zip of the token array with its
    * own tail expands bigrams without any self-join, and x23's model
    * tables (c2/c1) plus its per-doc join all read this one
    * materialization.
    */
  private lazy val bg2Frame = SharedFrame.persisted(
      "text.bigrams", QueriesDedup.docsWithTokens) { (s, d) =>
    QueriesDedup.docsWithTokens(s, d)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf2"))
  }

  private val enList = "['the','a','and','of','to','in','is']"
  private val deList = "['der','die','das','und','ist','ein']"
  private val esList = "['el','los','las','y','es','una']"
  private val frList = "['le','les','et','est','une','dans']"
  private val zhList = "['的','是','了','在']"

  /** The x2 oracle as a standalone SELECT — shared verbatim between
    * the x2 entry and x34's confusion matrix (one source of truth for
    * the predictor on the oracle side, mirroring the Spark side's
    * x2_lang_id reuse). Lazy: references the vocab vals.
    */
  private lazy val x2OracleSql: String =
    s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS dt
       |           FROM documents),
       |sc AS (SELECT doc_id,
       |  CAST(len(list_intersect(dt, $enList)) AS BIGINT) AS s_en,
       |  CAST(len(list_intersect(dt, $deList)) AS BIGINT) AS s_de,
       |  CAST(len(list_intersect(dt, $esList)) AS BIGINT) AS s_es,
       |  CAST(len(list_intersect(dt, $frList)) AS BIGINT) AS s_fr,
       |  CAST(len(list_intersect(dt, $zhList)) AS BIGINT) AS s_zh
       |  FROM t)
       |SELECT doc_id,
       |  CASE
       |    WHEN s_en > 0 AND s_en = greatest(s_en,s_de,s_es,s_fr,s_zh)
       |      THEN 'en'
       |    WHEN s_de > 0 AND s_de = greatest(s_en,s_de,s_es,s_fr,s_zh)
       |      THEN 'de'
       |    WHEN s_es > 0 AND s_es = greatest(s_en,s_de,s_es,s_fr,s_zh)
       |      THEN 'es'
       |    WHEN s_fr > 0 AND s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh)
       |      THEN 'fr'
       |    WHEN s_zh > 0 AND s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh)
       |      THEN 'zh'
       |    ELSE 'und' END AS pred_lang,
       |  s_en AS en_hits
       |FROM sc""".stripMargin

  private val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"""

  /** Shared chunk CTE chain mirroring [[chunkFrame]] — both the x17 and
    * x18 oracles read the `c` relation, the same single-source-of-truth
    * discipline as the Spark side (lazy: references toksSql above).
    */
  private lazy val chunkCte: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       |e AS (SELECT doc_id, toks,
       |      unnest(range(0, len(toks), $ChunkStride)) AS start
       |      FROM f),
       |c AS (SELECT doc_id, start // $ChunkStride AS chunk_idx, start,
       |      CAST(len(list_slice(toks, start + 1, start + $ChunkSize))
       |        AS BIGINT) AS n_chunk_tokens,
       |      CAST(concat('0x', substr(md5(array_to_string(
       |        list_slice(toks, start + 1, start + $ChunkSize), ' ')),
       |        1, 15)) AS BIGINT) AS chunk_hash
       |      FROM e)""".stripMargin

  /** x35's oracle, generated for [[BpeRounds]] rounds: the same vocab
    * build, per-round pair argmax, and leftmost non-overlapping merge —
    * the fold packs its accumulator as a LIST of strings (the ts8/r11
    * discipline: DuckDB `list_reduce` corrupts multi-field STRUCT
    * accumulators but folds LIST state correctly; elements arrive as
    * 1-element lists so the lambda signature stays LIST→LIST).
    */
  /** The shared x35/x37 oracle chain (mirrors [[bpeChain]]: word is
    * carried through every round so x37's encode join can read
    * v[[BpeRounds]]). v$r CTEs are MATERIALIZED — each is referenced
    * by both the next round's pair count and its merge fold, and
    * DuckDB 1.0 inlines CTEs by default, which would re-derive the
    * whole chain 2^R times (the d9 sf1 lesson).
    */
  private lazy val bpeChainSql: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT)
         |    AS pf
         |  FROM (SELECT freq, unnest(list_transform(range(len(syms) - 1),
         |      i -> [syms[i + 1], syms[i + 2]])) AS p
         |    FROM v${r - 1} WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT l, r, pf FROM p$r ORDER BY pf DESC, l, r LIMIT 1),
         |tn$r AS (SELECT l, r, pf FROM (SELECT l, r, pf FROM t$r
         |    UNION ALL SELECT NULL, NULL, CAST(-1 AS BIGINT))
         |  ORDER BY pf DESC LIMIT 1),
         |v$r AS MATERIALIZED (SELECT word, list_reduce(
         |    list_prepend([syms[1]], list_transform(syms[2:], x -> [x])),
         |    (acc, xl) -> CASE WHEN acc[len(acc)] = t.l AND xl[1] = t.r
         |      THEN list_append(acc[1:len(acc) - 1], t.l || t.r)
         |      ELSE list_append(acc, xl[1]) END) AS syms, freq
         |  FROM v${r - 1}, tn$r AS t)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT lower(tok) AS word FROM (
       |      SELECT unnest($toksSql) AS tok FROM documents))
       |  WHERE regexp_matches(word, '^[a-z]{1,16}$$') GROUP BY word),
       |v0 AS MATERIALIZED (SELECT word, list_transform(range(length(word)),
       |    i -> substr(word, i + 1, 1)) AS syms, freq FROM w0),
       |$rounds""".stripMargin
  }

  private lazy val bpeOracleSql: String = {
    val sel = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, l AS lhs, r AS rhs, " +
        s"pf AS pair_freq FROM t$r").mkString("\nUNION ALL\n")
    s"""WITH $bpeChainSql
       |$sel""".stripMargin
  }

  /** x37's oracle: the same chain, then the encode join + per-source
    * ledger (divisions written in the same shape as the Spark side —
    * exact BIGINT sums widened to DOUBLE, one 6dp round at output).
    */
  private lazy val bpeEncodeOracleSql: String =
    s"""WITH $bpeChainSql,
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS ntok
       |  FROM v$BpeRounds),
       |wd AS (SELECT source, word FROM (
       |    SELECT source, lower(tok) AS word FROM (
       |      SELECT source, unnest($toksSql) AS tok FROM documents))
       |  WHERE regexp_matches(word, '^[a-z]{1,16}$$'))
       |SELECT wd.source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(wd.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(enc.ntok) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(enc.ntok) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS bpe_fertility,
       |  round(CAST(sum(length(wd.word)) AS DOUBLE)
       |    / CAST(sum(enc.ntok) AS DOUBLE), 6) AS chars_per_token
       |FROM wd JOIN enc ON enc.word = wd.word
       |GROUP BY wd.source""".stripMargin

}
