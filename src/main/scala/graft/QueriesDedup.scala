package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps, VectorOps}
import graft.sources.Tables

/** Deduplication queries over `documents` / `embeddings` (north-star
  * extension): exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH,
  * SimHash fingerprint + hamming-banded pairs, embedding-cosine near-dup.
  *
  * The sf0.01 corpus has 25 planted near-duplicate pairs (Jaccard
  * 0.96–0.99) — d2 finds them exactly, d3's 16-hash/4-band LSH recovers
  * all 25 with zero false candidates on this data.
  */
object QueriesDedup {

  /** Documents tokenized once, spread across full parallelism, and
    * PERSISTED. Three traps at once on a small corpus feeding heavy
    * signature pipelines:
    *  - a small parquet file is one split, and SinglePartition satisfies
    *    every distribution, so nothing repartitions downstream — the whole
    *    dedup pipeline runs on one core without the spread;
    *  - interpreted higher-order lambdas re-evaluate inlined children per
    *    element, so an un-materialized `tokens` gets re-split per shingle
    *    (and `StringSplit` recompiles its regex per call);
    *  - a bare repartition is no barrier: InferFiltersFromGenerate +
    *    predicate pushdown clone the whole expression tree below it.
    * `persist()` is the optimizer-proof materialization, and Spark's
    * CacheManager dedups by plan equality, so d1–d5 share one cached
    * tokenization per scale dir. The same pattern at 100 TB is
    * "tokenize once → checkpoint → fan out to every signature".
    */
  private[graft] lazy val docsWithTokens =
    SharedFrame.persisted("dedup.tokens") { (s, d) =>
      DedupOps.spread(
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")))
    }

  /** Tokenized docs reduced to their distinct 3-shingle hashes, PERSISTED
    * (shared by d2 and d3 via CacheManager plan equality). Materializing
    * the shingle frame matters beyond reuse: `InferFiltersFromGenerate`
    * clones the generator child into `isnotnull`/`size > 0` predicates
    * that are pushed below the projection, so an un-cached
    * `shingleHashes` would be evaluated up to three times per row (plan-
    * audited); against the cache those predicates read a materialized
    * array. Same discipline as [[docsWithTokens]] — at 100 TB this is
    * "signature once → checkpoint → fan out".
    */
  private lazy val docsWithShingles =
    SharedFrame.persisted("dedup.shingles", docsWithTokens) { (s, d) =>
      docsWithTokens(s, d)
        .select(col("doc_id"), DedupOps.shingleHashes(col("toks"), 3).as("sh"))
    }

  /** The 60-bit SimHash fingerprint (id, simhash) of every tokenized
    * doc, PERSISTED: d4 and d5 read it, and the budget arms (d28, d30)
    * bucket it into chunk postings ([[simhashChunkPostings]]), so the
    * signatures are computed once per scale dir instead of once per
    * plan.
    */
  private lazy val docsWithSimhash =
    SharedFrame.persisted("dedup.simhash", docsWithTokens) { (s, d) =>
      DedupOps.simhash(docsWithTokens(s, d), "doc_id", col("toks"))
    }

  /** d18's ranked frame BUILD (un-checkpointed): deterministic range
    * buckets from seeded-sampled boundaries (withRangeBuckets — a pure
    * column function of bkey, stable across consumers where
    * spark_partition_id after a range exchange is not), then the
    * per-range lead/row_number/count windows. Exposed so PlanAuditSpec
    * can pin the scale properties (native-search bucketing, partitioned
    * windows) on THIS plan — in the query they sit behind the
    * per-invocation localCheckpoint (the rfm_ranked pattern).
    */
  private[graft] def d18RankedBuild(s: SparkSession, d: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 4
    val keyed = graft.operators.RelationalOps.withRangeBuckets(
        docsWithTokens(s, d).select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("bkey")),
        col("bkey"))
      .withColumnRenamed("__part", "part")
    val wUp = Window.partitionBy("part")
      .orderBy(col("bkey"), col("doc_id"))
    keyed
      .withColumn("nbrs",
        array((1 to W).map(i => lead(col("doc_id"), i).over(wUp)): _*))
      .withColumn("rn_up", row_number().over(wUp))
      // partition row count via an UNORDERED window — its required
      // ordering (part only) is already satisfied by wUp's sort, so
      // no second (descending) per-partition sort is planned;
      // tail-of-partition = rn_up > cnt - W
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy("part")))
  }

  /** DEDUP-FIRST shared pair machinery (VERDICT r14 #1 — closes the sf5
    * density failure at its source). The old `pair_intersections` cache
    * ran d2's df-capped intersection chain over the RAW corpus; at
    * adversarial duplicate density (sf5: every doc has 49 exact clones)
    * its Σ df² join intermediate exceeded local spill disk and took
    * d15 down with it. The rebuild collapses exact clones FIRST
    * (d31's full-token-hash keeper rule) and runs the quadratic stage
    * on keepers only — smaller by the clone factor SQUARED — then
    * reconstructs the raw-corpus pair frame exactly:
    *
    *  - [[cloneMembers]]: raw doc_id → keeper (min id over identical
    *    token sequences), one hash-agg + one join;
    *  - [[keeperIndex]]: the shingle index over keepers with the df cap
    *    on Σ clique sizes = the RAW df, so exactly the shingles the old
    *    raw chain kept survive (the identity that makes expansion
    *    bit-exact against the unchanged raw-corpus oracles);
    *  - [[keeperPairs]]: per-keeper-pair intersection counts (the only
    *    quadratic stage, now density-invariant);
    *  - [[cliqueSelf]]: per-clique surviving-shingle counts — the
    *    intra-clique pairs' intersection (clones share one shingle set);
    *  - [[rawPairsWhere]]: filter at keeper level (predicates are
    *    symmetric), THEN expand through the membership table — cross
    *    pairs fan out |Ca|·|Cb|, intra pairs C(copies,2) — so the only
    *    raw-sized frames are post-filter answers, never candidates.
    *
    * The raw-corpus form (DedupOps.shingleIntersections) remains the
    * executable spec; DedupFirstCacheSpec pins frame equality on a
    * clone-heavy fixture, and the sf ≤ 1 oracles are unchanged.
    */
  private[graft] lazy val cloneMembers =
    SharedFrame.checkpointed("dedup.clone_members", docsWithTokens) { (s, d) =>
      DedupOps.cloneMembership(docsWithTokens(s, d), "doc_id", col("toks"))
    }

  private lazy val keeperIndex = SharedFrame.checkpointed(
      "dedup.keeper_index", docsWithShingles, cloneMembers) { (s, d) =>
      val w = cloneMembers(s, d).groupBy("keeper")
        .agg(count(lit(1)).as("w"))
        .withColumnRenamed("keeper", "doc_id")
      DedupOps.weightedCappedIndex(
        docsWithShingles(s, d).join(w, "doc_id"),
        "doc_id", "sh", "w", maxDocFreq = 1000L)
    }

  private lazy val keeperPairs =
    SharedFrame.checkpointed("dedup.keeper_pairs", keeperIndex) { (s, d) =>
      DedupOps.pairIntersectionsFromIndex(keeperIndex(s, d))
    }

  private lazy val cliqueSelf = SharedFrame.checkpointed(
      "dedup.clique_self", keeperIndex, cloneMembers) { (s, d) =>
      val copies = cloneMembers(s, d).groupBy("keeper")
        .agg(count(lit(1)).as("copies"))
        .filter(col("copies") >= 2)
      keeperIndex(s, d)
        .groupBy(col("id").as("keeper"), col("n"))
        .agg(count(lit(1)).as("surv"))
        .join(copies, "keeper")
    }

  /** The raw-corpus pair frame (id_a, id_b, n_a, n_b, inter — exactly
    * what the old raw-corpus intersection chain produced), reconstructed
    * from the keeper caches AFTER `pred` filters at keeper level. `pred`
    * must be SYMMETRIC in (n_a, n_b) — every consumer's is (Jaccard,
    * integer-threshold arms, two-sided containment). Cross-clique pairs
    * keep n_a with the smaller raw id (clones share set sizes, so n
    * follows the clique); intra-clique pairs have n_a = n_b and
    * inter = the clique's surviving-shingle count, and only exist when
    * ≥ 1 shingle survives — matching the raw chain, where a pair appears
    * iff it shares a surviving shingle.
    */
  private[graft] def rawPairsWhere(s: SparkSession, d: String,
      pred: Column): DataFrame =
    DedupOps.expandKeeperPairs(keeperPairs(s, d), cliqueSelf(s, d),
      cloneMembers(s, d), pred)

  /** The ONE bounded prefix-bucket expansion (verified pairs + minimal
    * successor offset at B=8), PERSISTED — d29 is its min_off ≤ 2
    * filter and d32 its budget curve, so the expansion+verify cost is
    * paid once.
    */
  private lazy val budgetPairs = SharedFrame.checkpointed(
      "dedup.budget_pairs", prefixBucketFrames) { (s, d) =>
      val (e, buckets) = prefixBucketFrames(s, d)
      DedupOps.prefixVerifiedMinOff(e, buckets, 7, 10, maxB = 8)
    }

  /** d33's keeper-corpus prefix front half — the rarity sort +
    * bucket build over KEEPERS (the keeper-corpus twin of
    * [[prefixBucketFrames]]), memo-checkpointed: the index is the
    * reusable substrate of any keeper-corpus pairing query, and
    * rebuilding it per invocation dominated d33's bench time (the
    * budgeted expansion + verify it exists for is the cheap part).
    */
  private lazy val keeperPrefixFrames = SharedFrame.memoized(
      "dedup.keeper_buckets", docsWithShingles, cloneMembers)(
      (_: (DataFrame, DataFrame))._2) { (s, d) =>
    val keeperSh = docsWithShingles(s, d)
      .join(cloneMembers(s, d).filter(col("id") === col("keeper"))
        .select(col("id").as("doc_id")), "doc_id")
    val (e, buckets) = DedupOps.prefixBuckets(keeperSh, "doc_id", "sh",
      7, 10, maxBucket = 1000L)
    (e, SessionMemo.retain(buckets))
  }

  /** MinHash signatures over KEEPERS only, memo-checkpointed — the
    * shared substrate of the dedup-first quality gates (d20 bands +
    * sig-bearing census, d21's two sig joins), each of which would
    * otherwise recompute the signature pass per count branch.
    */
  private lazy val keeperSigs = SharedFrame.checkpointed(
      "dedup.keeper_sigs", docsWithShingles, cloneMembers) { (s, d) =>
      DedupOps.minhashSigs(
        docsWithShingles(s, d)
          .join(cloneMembers(s, d).filter(col("id") === col("keeper"))
            .select(col("id").as("doc_id")), "doc_id"),
        "doc_id", "sh", 16)
    }

  private val jaccardGe08: Column =
    col("inter") / (col("n_a") + col("n_b") - col("inter")) >= 0.8

  /** The verified Jaccard near-dup pair list (d2's output), PERSISTED —
    * d2 returns it, d7 clusters it, d9 ranks it, d15 elects keepers on
    * it, d20 gates recall against it. Built dedup-first (see above):
    * the keeper-level filter runs before expansion, so the only
    * raw-sized materialization is the answer itself.
    */
  private lazy val verifiedPairs = SharedFrame.checkpointed(
      "dedup.verified_pairs", keeperPairs, cliqueSelf, cloneMembers) {
    (s, d) =>
      // spread: the cross ∪ intra expansion doubles partition count,
      // and the iterative consumers (d7's Pregel, d9's PageRank)
      // symmetrize this frame again — without re-bounding, every round
      // schedules 4× the empty tasks
      DedupOps.spread(rawPairsWhere(s, d, jaccardGe08)
        .select(col("id_a"), col("id_b"),
          round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6)
            .as("jaccard")))
  }

  /** The prefix-filter front half (shingle index + rarity-ordered
    * prefix buckets at the d17 7/10 threshold), with the BUCKETS
    * frame memo-checkpointed: four consumers (d17 unbounded, d29
    * budgeted, d32 curve, the budget_pairs expansion) and the per-doc
    * rarity sort + collect_list is the expensive shared part. `e`
    * rides the shingles cache and stays a lazy plan, so only buckets
    * materialize.
    */
  private lazy val prefixBucketFrames = SharedFrame.memoized(
      "dedup.prefix_buckets", docsWithShingles)(
      (_: (DataFrame, DataFrame))._2) { (s, d) =>
    val (e, buckets) = DedupOps.prefixBuckets(docsWithShingles(s, d),
      "doc_id", "sh", 7, 10, maxBucket = 1000L)
    (e, SessionMemo.retain(buckets))
  }

  /** The SimHash chunk buckets at d5's parameters (4×15-bit chunks,
    * hamming ≤ 3) — the postings both budget arms (d28, d30) read.
    */
  private def simhashChunkPostings(s: SparkSession, d: String): DataFrame =
    DedupOps.simhashPostings(docsWithSimhash(s, d), maxHamming = 3)

  /** d31's body over a tokenized (doc_id, toks) frame: full-token-hash
    * clone collapse to min-id keepers (with clique sizes), then the
    * d2 intersection chain over keepers only — with the df cap on the
    * WEIGHTED (raw-corpus) frequency, so the pair list is EXACTLY
    * d2's restricted to keepers (under a keeper-count cap that claim
    * held only while no shingle's raw df crossed the cap; r15 aligned
    * the convention with the shared keeper caches). Extracted so the
    * spec can drive it with a hand fixture; the registered query is
    * the same composition read from the shared caches.
    */
  private[graft] def dedupFirstPairs(toks: DataFrame): DataFrame = {
    val mem = DedupOps.cloneMembership(toks, "doc_id", col("toks"))
    val copies = mem.groupBy("keeper").agg(count(lit(1)).as("copies"))
    val sh = toks
      .join(mem.filter(col("id") === col("keeper"))
        .select(col("id").as("doc_id")), "doc_id")
      .select(col("doc_id"), DedupOps.shingleHashes(col("toks"), 3).as("sh"))
      .join(copies.withColumnRenamed("keeper", "doc_id"), "doc_id")
    val idx = DedupOps.weightedCappedIndex(sh, "doc_id", "sh", "copies",
      maxDocFreq = 1000L)
    withCopiesLineage(
      DedupOps.pairIntersectionsFromIndex(idx), copies)
  }

  /** Jaccard ≥ 0.8 + clique-size lineage over a keeper-pair frame —
    * shared by [[dedupFirstPairs]] and the cache-backed d31.
    */
  private def withCopiesLineage(keeperPairFrame: DataFrame,
      copies: DataFrame): DataFrame =
    keeperPairFrame
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter"))
        >= 0.8)
      .select(col("id_a"), col("id_b"),
        round(col("inter") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
      .join(copies.select(col("keeper").as("id_a"),
        col("copies").as("copies_a")), Seq("id_a"))
      .join(copies.select(col("keeper").as("id_b"),
        col("copies").as("copies_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("copies_a"), col("copies_b"))

  lazy val registry: Seq[Query] = Seq(
    // Exact dedup on a canonicalization (first-5-token prefix hash):
    // pure hash aggregation, one shuffle. ~24 multi-copy groups at sf0.01.
    Query("d1_exact_dedup", (s, d) => {
      val key = md5(concat_ws(" ", slice(col("toks"), 1, 5)))
      DedupOps.exactDedup(docsWithTokens(s, d), "doc_id", key)
    },
      s"""SELECT md5(array_to_string(list_slice(toks, 1, 5), ' '))
         |    AS text_hash,
         |  min(doc_id) AS keeper, count(*) AS n_copies
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |GROUP BY 1""".stripMargin,
      reads = Seq(docsWithTokens)),

    // n-gram Jaccard near-dup: native distinct-shingle hashing ->
    // inverted index (df-capped) -> candidate pairs -> exact Jaccard >= 0.8.
    Query("d2_jaccard_pairs", (s, d) => verifiedPairs(s, d),
      s"WITH $d2Ctes\n$d2Select",
      reads = Seq(verifiedPairs)),

    // Prefix-filter set-similarity join (PPJoin discipline) at J >= 0.7:
    // the LOSSLESS candidate generator — documents bucket-join only on
    // the rarest n-ceil(0.7n)+1 of their globally-rarity-ordered
    // shingles, and the prefix-filter theorem guarantees every true
    // pair still collides (where d2's df-cap trades stopword-only
    // pairs away and d3's banding trades recall probabilistically).
    // All gates in exact integer arithmetic; rides the shared shingle
    // cache.
    Query("d17_prefix_filter", (s, d) => {
      val (e, buckets) = prefixBucketFrames(s, d)
      DedupOps.prefixFilterPairsFrom(e, buckets, 7, 10)
    },
      // d17: d2's tokenize/shingle/index CTEs (t, s, e0, e), then the
      // prefix chain — rarity order via list(s ORDER BY df, s), integer
      // ceil prefix length, bucket cap, length filter, exact verify.
      s"""WITH $prefixPreCtes,
         |pc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |      a.n AS n_a, b.n AS n_b
         |      FROM pre a JOIN pre b ON a.s = b.s AND a.id < b.id
         |      JOIN ok ON a.s = ok.s
         |      WHERE a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7),
         |p AS (SELECT pc.id_a, pc.id_b, pc.n_a, pc.n_b,
         |      count(*) AS inter
         |      FROM pc
         |      JOIN e ea ON ea.id = pc.id_a
         |      JOIN e eb ON eb.id = pc.id_b AND eb.s = ea.s
         |      GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, inter,
         |  round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6)
         |    AS jaccard
         |FROM p WHERE inter * 17 >= (n_a + n_b) * 7""".stripMargin,
      reads = Seq(prefixBucketFrames)),

    // Sorted-neighborhood blocking (the third candidate-generation
    // discipline next to d2's df-capped index and d3's LSH banding):
    // sort the corpus ONCE on a cheap blocking key (first-3-token
    // prefix), and only rows within a fixed window w=4 of each other
    // in that order become candidates — exactly w·n pairs at ANY
    // corpus size, by construction, with zero frequency caps or
    // probability knobs. The window expands IN-ROW (lead(1..w) packed
    // into an array, then exploded), so no rank self-join ever
    // materializes; candidates then exact-verify with d2's Jaccard
    // formula over the shared shingle cache via per-pair in-row
    // intersection.
    //
    // SCALE (the r11 "rank note", now implemented): NO global window.
    // The corpus range-partitions on the total order (bkey, doc_id)
    // into P = spark.sql.shuffle.partitions ranges; lead(1..W) runs
    // per-range-partition. Cross-boundary neighbor pairs come from a
    // SEAM pass: each range partition contributes only its first and
    // last W rows (<= 2W·P rows total — O(cluster), not O(data)),
    // that tiny frame is sorted once, lead(1..W) runs over it, and
    // only pairs whose endpoints sit in DIFFERENT range partitions
    // are kept (same-partition pairs already came from pass 1).
    // Exactness is boundary-independent: a row more than W from its
    // partition's edge has all W successors in-partition; an edge
    // row's next W rows in the full order are exactly the remaining
    // tail rows plus the following partitions' head rows, all present
    // in the seam frame; and any seam-frame lead that skips interior
    // rows lands in the SAME partition and is filtered. So the pair
    // set equals the single-sort formulation's, which is what the
    // oracle computes.
    Query("d18_sorted_neighborhood", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val W = 4
      // Checkpointed ONCE PER INVOCATION (OPT r19, guide §1.2 step 1):
      // `inner` and `seam` both consume the ranked frame, and each
      // re-executed the full window machinery (range exchange + sort +
      // lead/row_number/count) over the data — profiled at sf1 as two
      // concurrent ~30-task-second pipelines. Eager localCheckpoint
      // (NOT a session cache — every invocation recomputes from the
      // parquet inputs) runs the windows once; both consumers read the
      // materialization. The bucketing/partitioned-window scale
      // properties now live in the BUILD plan ([[d18RankedBuild]]),
      // which PlanAuditSpec audits directly (the rfm_ranked pattern).
      val ranked = d18RankedBuild(s, d).localCheckpoint()
      val inner = ranked
        .select(col("doc_id").as("ia"), explode(col("nbrs")).as("ib"))
        .filter(col("ib").isNotNull)
      // seam frame: first/last W rows of every range partition —
      // <= 2W·P rows, so the one global sort here is over a frame
      // sized by the cluster, not the data
      val wSeam = Window.orderBy(col("bkey"), col("doc_id"))
      val seam = ranked
        .filter(col("rn_up") <= W || col("rn_up") > col("cnt") - W)
        .select(col("doc_id"), col("bkey"), col("part"))
        .withColumn("nbrs", array((1 to W).map(i =>
          struct(lead(col("doc_id"), i).over(wSeam).as("id"),
            lead(col("part"), i).over(wSeam).as("p"))): _*))
        .select(col("doc_id").as("ia"), col("part"),
          explode(col("nbrs")).as("nb"))
        .filter(col("nb.id").isNotNull && col("nb.p") =!= col("part"))
        .select(col("ia"), col("nb.id").as("ib"))
      val cand = inner.unionByName(seam)
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"))
      val sh = docsWithShingles(s, d)
      // per-doc sort once + native merge-count instead of per-pair
      // size(array_intersect(...)) — see DedupOps.verifyJaccardPairs.
      // n_a/n_b are the RAW (with-duplicates) lengths as before,
      // computed per doc BEFORE the join so only ONE array (the
      // sorted one) rides through the pair frame.
      val a = sh.select(col("doc_id").as("id_a"),
        size(col("sh")).cast("long").as("n_a"),
        array_sort(col("sh")).as("sh_sa"))
      val b = sh.select(col("doc_id").as("id_b"),
        size(col("sh")).cast("long").as("n_b"),
        array_sort(col("sh")).as("sh_sb"))
      val jac = col("inter") / (col("n_a") + col("n_b") - col("inter"))
      cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          org.apache.spark.sql.graft.SetExpressions
            .sortedIntersectCount(col("sh_sa"), col("sh_sb"))
            .as("inter"),
          col("n_a"), col("n_b"))
        .filter(jac >= 0.8)
        .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
    },
      // d18: rank self-join expresses the same w-window neighborhood the
      // Spark side expands in-row with lead(); the verify recomputes
      // d2's Jaccard from in-row hashed-shingle intersections.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
         |hs AS (SELECT doc_id,
         |      list_transform(sh, x -> ${h60("concat('sh:', x)")})
         |        AS hsh FROM s),
         |k AS (SELECT doc_id,
         |      array_to_string(list_slice(toks, 1, 3), ' ') AS bkey
         |      FROM t),
         |r AS (SELECT doc_id,
         |      row_number() OVER (ORDER BY bkey, doc_id) AS rk FROM k),
         |c AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
         |      greatest(a.doc_id, b.doc_id) AS id_b
         |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 4),
         |v AS (SELECT id_a, id_b,
         |      CAST(len(list_intersect(ha.hsh, hb.hsh)) AS BIGINT)
         |        AS inter,
         |      CAST(len(ha.hsh) AS BIGINT) AS n_a,
         |      CAST(len(hb.hsh) AS BIGINT) AS n_b
         |      FROM c JOIN hs ha ON c.id_a = ha.doc_id
         |        JOIN hs hb ON c.id_b = hb.doc_id)
         |SELECT id_a, id_b,
         |  round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
         |FROM v
         |WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.8"""
        .stripMargin,
      reads = Seq(docsWithShingles, docsWithTokens)),

    // MinHash(16) + LSH(4 bands x 4 rows): candidate pairs via equi-join
    // on band signatures. Signatures are computed in one narrow projection
    // (no explode until the 4 band rows).
    Query("d3_minhash_lsh", (s, d) => {
      val sigs = DedupOps.minhashSigs(docsWithShingles(s, d),
        "doc_id", "sh", 16)
      DedupOps.lshCandidates(DedupOps.lshBands(sigs, "id", "sig", 4, 4))
    },
      s"""WITH $d3Ctes
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM sig a JOIN sig b
         |  ON a.band = b.band AND a.sg = b.sg AND a.doc_id < b.doc_id"""
        .stripMargin,
      reads = Seq(docsWithShingles)),

    // Incremental LSH-dedup maintenance — the MV discipline (mv1–mv4)
    // applied to d3's near-dup index: when a 10% delta batch lands
    // (x6's seeded hash split marks membership), only the DELTA's band
    // rows probe the corpus band index; pairs strictly inside the old
    // base never recompute because both their endpoints were probed
    // when THEY arrived. Cost is O(|delta| · bucket occupancy) per
    // batch instead of O(corpus²) — the shape that lets a 100 TB
    // corpus absorb streaming ingest with per-batch work proportional
    // to the batch. Signatures ride the shared shingle cache; the
    // probe side is a filter on the same band frame (rarest-key
    // discipline: the corpus side is the big side, the delta probe is
    // the small side of the equi-join). Output marks pairs where BOTH
    // endpoints are new (delta-delta) vs delta-base.
    Query("mv5_lsh_delta", (s, d) => {
      def isDelta(id: Column): Column =
        TextOps.md5Prefix60(concat(lit("split:"), id.cast("string")))
          .%(100) >= 90
      val sigs = DedupOps.minhashSigs(docsWithShingles(s, d),
        "doc_id", "sh", 16)
      val bands = DedupOps.lshBands(sigs, "id", "sig", 4, 4)
      val probe = bands.filter(isDelta(col("id")))
        .select(col("id").as("id_p"), col("band"), col("sig"))
      val corpus = bands.select(col("id").as("id_c"), col("band"),
        col("sig"))
      probe.join(corpus, Seq("band", "sig"))
        .filter(col("id_p") =!= col("id_c"))
        .select(least(col("id_p"), col("id_c")).as("id_a"),
          greatest(col("id_p"), col("id_c")).as("id_b"))
        .distinct()
        .select(col("id_a"), col("id_b"),
          (isDelta(col("id_a")) && isDelta(col("id_b"))).as("both_new"))
    },
      // mv5: d3's signature CTEs + delta-probe restriction (x6's seeded
      // split marks the delta); the both_new flag recomputes membership
      // from the ids so it needs no extra join.
      {
      def del(idExpr: String) =
        s"${h60(s"concat('split:', CAST($idExpr AS VARCHAR))")} % 100 >= 90"
      s"""WITH $d3Ctes
         |SELECT id_a, id_b,
         |  (${del("id_a")}) AND (${del("id_b")}) AS both_new
         |FROM (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         |    greatest(a.doc_id, b.doc_id) AS id_b
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.sg = b.sg
         |      AND a.doc_id <> b.doc_id
         |  WHERE ${del("a.doc_id")})""".stripMargin
    },
      reads = Seq(docsWithShingles)),

    // LSH candidate-generator quality gate — v8_ann_recall's discipline
    // applied to the LEXICAL dedup path: d3's banded candidates scored
    // against d2's exact-verified truth (jaccard ≥ 0.8), reporting
    // recall (what fraction of true near-dup pairs the bands surface)
    // and precision (what fraction of surfaced candidates are real).
    // This is the gate that catches silent recall collapse when
    // band/row geometry changes — exactly the failure v8 guards on the
    // embedding side. Both inputs ride the shared signature/pair
    // caches; the scoring is one pair equi-join + three 1-row
    // aggregates broadcast together. (On this corpus: 25/25 recall at
    // zero false candidates — the planted near-dups sit far above the
    // 4×4 band threshold.)
    Query("d20_lsh_recall", (s, d) => {
      // DEDUP-FIRST form (VERDICT r15 #6 — the d33 discipline applied
      // to the quality gate): exact clones share shingle sets, hence
      // MinHash signatures, hence band collisions — so every raw-pair
      // count decomposes EXACTLY into keeper-level pairs × clique
      // weights, and the gate never materializes the clone-quadratic
      // pair frame that cost 27.7 s solo at sf5 density. Cross-clique:
      // bands/candidates over KEEPERS only, weighted |Ca|·|Cb|.
      // Intra-clique: clones always collide (identical sigs), so
      // candidates = C(c,2) over sig-bearing cliques and hits = the
      // truth intra pairs themselves (truth needs a surviving shingle
      // → nonempty shingles → a sig). Counts are bit-equal to the
      // raw-corpus form; the oracle is unchanged.
      val mem = cloneMembers(s, d)
      val copies = mem.groupBy("keeper").agg(count(lit(1)).as("copies"))
      val sigs = keeperSigs(s, d)
      val candK = DedupOps.lshCandidates(
        DedupOps.lshBands(sigs, "id", "sig", 4, 4))
        .select(col("id_a"), col("id_b"), lit(true).as("c"))
      val truthK = keeperPairs(s, d).filter(jaccardGe08)
        .select(col("id_a"), col("id_b"), lit(true).as("t"))
      // ONE pass over the keeper pairs prices all three cross counts:
      // full-outer truth⋈cand, weights joined once, flag-filtered sums
      val cross = truthK.join(candK, Seq("id_a", "id_b"), "full_outer")
        .join(copies.select(col("keeper").as("id_a"),
          col("copies").as("ca")), "id_a")
        .join(copies.select(col("keeper").as("id_b"),
          col("copies").as("cb")), "id_b")
        .agg(
          coalesce(sum(when(col("t"), col("ca") * col("cb"))), lit(0L))
            .as("tc"),
          coalesce(sum(when(col("c"), col("ca") * col("cb"))), lit(0L))
            .as("cc"),
          coalesce(sum(when(col("t") && col("c"), col("ca") * col("cb"))),
            lit(0L)).as("hc"))
      // intra pair count per clique: C(copies, 2), exact integers
      val c2 = expr("copies * (copies - 1) div 2")
      val truthIntra = cliqueSelf(s, d)
        .filter(col("surv") / (col("n") + col("n") - col("surv")) >= 0.8)
        .agg(coalesce(sum(c2), lit(0L)).as("ti"))
      val candIntra = sigs.select(col("id").as("keeper"))
        .join(copies, "keeper").filter(col("copies") >= 2)
        .agg(coalesce(sum(c2), lit(0L)).as("ci"))
      // ratio zero-guards (ADVICE r11): an empty candidate or truth
      // set — the exact regression this gate exists to catch — must
      // report 0.0 identically on both engines, not a NULL-vs-NaN
      // engine mismatch that fails the gate itself
      def safeRatio(num: Column, den: Column): Column =
        round(when(den > 0,
          num.cast("double") / den.cast("double")).otherwise(0.0), 6)
      cross
        .crossJoin(broadcast(truthIntra))
        .crossJoin(broadcast(candIntra))
        .select((col("tc") + col("ti")).as("n_truth"),
          (col("cc") + col("ci")).as("n_cand"),
          (col("hc") + col("ti")).as("n_hit"))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          safeRatio(col("n_hit"), col("n_truth")).as("recall"),
          safeRatio(col("n_hit"), col("n_cand")).as("precision"))
    },
      // d20: d2's chain gives truth AND the hashed shingle index; the
      // minhash signatures derive from e's 60-bit hashes (h30 = s mod
      // 2^30, exactly d3's), so the whole gate shares one CTE spine.
      s"""WITH $d2Ctes,
         |pairs AS ($d2Select),
         |e3 AS (SELECT id AS doc_id, s % 1073741824 AS h30 FROM e),
         |seeds AS (SELECT i,
         |      (${h60("concat('mh-a:', CAST(i AS VARCHAR))")}
         |        % 2147483646) + 1 AS a,
         |      ${h60("concat('mh-b:', CAST(i AS VARCHAR))")}
         |        % 2147483647 AS b
         |      FROM (SELECT unnest(range(16)) AS i) r(i)),
         |mh3 AS (SELECT doc_id, i,
         |      min((a * h30 + b) % 2147483647) AS h
         |      FROM e3 CROSS JOIN seeds GROUP BY doc_id, i),
         |sig3 AS (SELECT doc_id, i // 4 AS band,
         |      array_to_string(list(h ORDER BY i), ',') AS sg
         |      FROM mh3 GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM sig3 a JOIN sig3 b
         |        ON a.band = b.band AND a.sg = b.sg
         |          AND a.doc_id < b.doc_id),
         |tn AS (SELECT count(*) AS n_truth FROM pairs),
         |cn AS (SELECT count(*) AS n_cand FROM cand),
         |h AS (SELECT count(*) AS n_hit
         |      FROM pairs JOIN cand USING (id_a, id_b))
         |SELECT n_truth, n_cand, n_hit,
         |  round(CASE WHEN n_truth > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    ELSE 0.0 END, 6) AS recall,
         |  round(CASE WHEN n_cand > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
         |    ELSE 0.0 END, 6) AS precision
         |FROM tn, cn, h""".stripMargin,
      reads = Seq(cliqueSelf, cloneMembers, keeperPairs, keeperSigs)),

    // MinHash ESTIMATOR error — d20 gates the banding's recall; this
    // gates the estimator itself: for every exact-verified near-dup
    // pair, the signature-agreement estimate Ĵ = matches/16 is laid
    // beside the true Jaccard (both as exact integer counts plus one
    // rounded ratio each), so a seed/permutation-count change that
    // degrades the estimator shows up as drifted n_match columns, not
    // a silent quality loss downstream. The intersection counts come
    // from the SAME df-capped shingle index as d2's selection (ADVICE
    // r11: a previous form recomputed them uncapped over the full
    // arrays, which agreed with the capped oracle only by data
    // accident — now both engines share one convention BY
    // CONSTRUCTION, and the reported jaccard is exactly the capped
    // jaccard the pair was selected on).
    // The dedup THRESHOLD OPERATING CURVE — v19's nprobe-curve
    // discipline applied to the near-dup verdict itself: for each
    // jaccard threshold θ ∈ {0.5..0.9} a curation team could deploy,
    // how many candidate pairs verify and how many documents the d15
    // keeper rule would drop. All five arms filter the ONE shared
    // keeper-pair cache (dedup-first, never all-pairs) before
    // expansion, and the θ compare is an EXACT integer
    // cross-multiplication (inter·10 ≥ k·(n_a+n_b−inter), θ = k/10) —
    // no float enters the verdict at any scale. This is the table
    // that prices a dedup deployment's aggressiveness BEFORE it runs:
    // pairs ≈ verification cost, drops ≈ data lost.
    Query("d27_threshold_curve", (s, d) => {
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      // ONE expansion for all five arms (the min-offset trick in θ
      // form): a pair passes arm k iff k ≤ ⌊10·inter/union⌋, so the
      // θ ≥ 0.5 expansion is exploded to its qualifying arms and one
      // hash-agg prices every threshold — the previous per-arm
      // rawPairsWhere ran the expansion joins five times (2.7 s vs
      // 0.5 s at sf0.1). Filter + kmax both in exact integers.
      val union = col("n_a") + col("n_b") - col("inter")
      val raw5 = rawPairsWhere(s, d, col("inter") * 10 >= lit(5L) * union)
      val armed = raw5.select(col("id_b"),
        explode(sequence(lit(5L),
          least(expr("(10 * inter) div (n_a + n_b - inter)"), lit(9L))))
          .as("k"))
      val counts = armed.groupBy("k")
        .agg(count(lit(1)).as("np"), countDistinct(col("id_b")).as("nd"))
      val spine = Seq(5L, 6L, 7L, 8L, 9L)
        .map(k => s.range(1).select(lit(k).as("k")))
        .reduce(_ unionAll _)
      spine.join(counts, Seq("k"), "left")
        .crossJoin(broadcast(nDocs))
        .select((col("k") / 10.0).as("threshold"),
          coalesce(col("np"), lit(0L)).as("n_pairs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          round(coalesce(col("nd"), lit(0L)).cast("double") /
            col("n_docs").cast("double"), 6).as("pct_dropped"))
    },
      // d27: the same pair CTE scanned per threshold arm; LEFT JOIN from
      // the arm spine so a zero-pair threshold still emits its row
      // (count of all-NULL = 0, matching the Spark side's agg), the
      // same exact integer cross-multiplication.
      s"""WITH $d2Ctes,
         |arms AS (SELECT unnest([5, 6, 7, 8, 9]) AS k),
         |c AS (SELECT a.k,
         |    count(p.id_a) AS n_pairs,
         |    count(DISTINCT p.id_b) AS n_dropped
         |  FROM arms a LEFT JOIN p
         |    ON p.inter * 10 >= a.k * (p.n_a + p.n_b - p.inter)
         |  GROUP BY a.k),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT CAST(k AS DOUBLE) / 10.0 AS threshold,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  round(CAST(n_dropped AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS pct_dropped
         |FROM c, nd""".stripMargin,
      reads = Seq(cliqueSelf, cloneMembers, keeperPairs)),

    // Bounded-emission SimHash pairs (VERDICT r13 #3: the 100 TB
    // valve on the pair GENERATORS): each fingerprint pairs only with
    // its B=2 immediate successors per chunk bucket, so output and
    // expansion cost are |index|·B at ANY duplicate density — the
    // unbounded d5 emitted 32.2 M pairs (79 s) on sf1's clone
    // cliques because saturated buckets expand quadratically. The cut
    // is LOUD: trunc_a/trunc_b carry the pair slots dropped around
    // each endpoint — successors AND predecessors, so 0 ⟺ that doc's
    // within-bucket pair list is exhaustive. Clique connectivity
    // survives (consecutive successors chain every bucket), so
    // cluster membership is preserved; d5 stays the exactness oracle
    // at sf ≤ 0.01, and d30's curve prices the budget choice. The
    // min-offset frame is windowed at B=2 itself: nothing else reads it.
    Query("d28_simhash_budget", (s, d) => {
      val postings = simhashChunkPostings(s, d)
      DedupOps.budgetedPairs(
        DedupOps.simhashMinOff(postings, maxHamming = 3, maxB = 2),
        postings, budget = 2)
    },
      // Mirrors d28: the same cf chain, per-bucket row_number in doc_id
      // order (= Spark's id-sorted posting array), a pair survives iff
      // the successor offset is within the budget, and trunc_x counts
      // both dropped successor and predecessor slots per endpoint.
      s"""WITH $simhashCfCtes,
         |rn AS (SELECT doc_id, simhash, j, chunk,
         |      row_number() OVER (PARTITION BY j, chunk
         |        ORDER BY doc_id) AS rn,
         |      count(*) OVER (PARTITION BY j, chunk) AS cnt
         |      FROM cf),
         |tr AS (SELECT doc_id,
         |      CAST(sum(greatest(cnt - rn - 2, 0)
         |        + greatest(rn - 3, 0)) AS BIGINT) AS trunc
         |      FROM rn GROUP BY doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         |      a.simhash AS sim_a, b2.simhash AS sim_b
         |      FROM rn a JOIN rn b2 ON a.j = b2.j AND a.chunk = b2.chunk
         |        AND b2.rn - a.rn BETWEEN 1 AND 2),
         |p AS (SELECT id_a, id_b,
         |      CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |      FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3)
         |SELECT p.id_a, p.id_b, p.hamming,
         |  ta.trunc AS trunc_a, tb.trunc AS trunc_b
         |FROM p JOIN tr ta ON ta.doc_id = p.id_a
         |JOIN tr tb ON tb.doc_id = p.id_b""".stripMargin,
      reads = Seq(docsWithSimhash)),

    // Bounded-emission prefix-filter pairs: d17's lossless generator
    // with the same B=2 successor window per prefix bucket (d17 read
    // 199 s / 250 k pairs at sf1 — output-bound). Same LOUD-truncation
    // contract as d28; exact-Jaccard verification unchanged. A filter
    // of the shared B=8 min-offset frame d32 also reads.
    Query("d29_prefix_budget", (s, d) => {
      val (_, buckets) = prefixBucketFrames(s, d)
      DedupOps.budgetedPairs(budgetPairs(s, d), buckets, budget = 2)
    },
      // Mirrors d29: per-bucket row_number in id order over SURVIVING
      // buckets (pb joins ok, = Spark's filtered id-sorted arrays), the
      // B=2 successor window before the length-ratio gate, and the same
      // exact-intersection verify as d17.
      s"""WITH $prefixPreCtes,
         |pb AS MATERIALIZED (SELECT pre.id, pre.n, pre.s,
         |      row_number() OVER (PARTITION BY pre.s
         |        ORDER BY pre.id) AS rn,
         |      count(*) OVER (PARTITION BY pre.s) AS cnt
         |      FROM pre JOIN ok ON pre.s = ok.s),
         |tr AS (SELECT id,
         |      CAST(sum(greatest(cnt - rn - 2, 0)
         |        + greatest(rn - 3, 0)) AS BIGINT) AS trunc
         |      FROM pb GROUP BY id),
         |pc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |      a.n AS n_a, b.n AS n_b
         |      FROM pb a JOIN pb b ON a.s = b.s
         |        AND b.rn - a.rn BETWEEN 1 AND 2
         |      WHERE a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7),
         |p AS (SELECT pc.id_a, pc.id_b, pc.n_a, pc.n_b,
         |      count(*) AS inter
         |      FROM pc
         |      JOIN e ea ON ea.id = pc.id_a
         |      JOIN e eb ON eb.id = pc.id_b AND eb.s = ea.s
         |      GROUP BY 1, 2, 3, 4)
         |SELECT p.id_a, p.id_b, p.inter,
         |  round(p.inter / CAST(p.n_a + p.n_b - p.inter AS DOUBLE), 6)
         |    AS jaccard,
         |  ta.trunc AS trunc_a, tb.trunc AS trunc_b
         |FROM p
         |JOIN tr ta ON ta.id = p.id_a
         |JOIN tr tb ON tb.id = p.id_b
         |WHERE p.inter * 17 >= (p.n_a + p.n_b) * 7""".stripMargin,
      reads = Seq(budgetPairs, prefixBucketFrames)),

    // The budget OPERATING CURVE (d27's discipline applied to the
    // emission budget): for B ∈ {1,2,4,8}, how many verified pairs
    // survive, how many generation slots are cut, and how many docs
    // are touched — all off ONE bounded expansion at B=8 (a pair
    // survives budget B iff its minimal bucket offset ≤ B, so every
    // smaller budget is a filter, not a re-expansion). This is the
    // table that prices a budget before deploying it at scale.
    Query("d30_budget_curve", (s, d) => {
      val postings = simhashChunkPostings(s, d)
      DedupOps.budgetCurve(
        DedupOps.simhashMinOff(postings, maxHamming = 3, maxB = 8),
        postings, budgets = Seq(1, 2, 4, 8))
    },
      // Mirrors d30: one offset-windowed expansion at max budget, each
      // pair's minimal offset decides which budgets keep it; slot
      // accounting (cnt − rn successors per element) prices the cut.
      s"""WITH $simhashCfCtes,
         |rn AS (SELECT doc_id, simhash, j, chunk,
         |      row_number() OVER (PARTITION BY j, chunk
         |        ORDER BY doc_id) AS rn,
         |      count(*) OVER (PARTITION BY j, chunk) AS cnt
         |      FROM cf),
         |bud AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS budget),
         |wide AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |      min(b2.rn - a.rn) AS min_off
         |      FROM rn a JOIN rn b2 ON a.j = b2.j AND a.chunk = b2.chunk
         |        AND b2.rn - a.rn BETWEEN 1 AND 8
         |      WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
         |      GROUP BY 1, 2),
         |kept AS (SELECT budget, count(*) AS pairs_kept
         |      FROM bud JOIN wide ON min_off <= budget GROUP BY 1),
         |slots AS (SELECT doc_id, cnt - rn AS n_succ FROM rn),
         |cut AS (SELECT budget,
         |      CAST(sum(greatest(n_succ - budget, 0)) AS BIGINT)
         |        AS slots_dropped,
         |      count(DISTINCT CASE WHEN n_succ > budget
         |        THEN doc_id END) AS docs_truncated
         |      FROM bud CROSS JOIN slots GROUP BY 1)
         |SELECT bud.budget,
         |  coalesce(kept.pairs_kept, 0) AS pairs_kept,
         |  coalesce(cut.slots_dropped, 0) AS slots_dropped,
         |  coalesce(cut.docs_truncated, 0) AS docs_truncated
         |FROM bud LEFT JOIN kept USING (budget)
         |LEFT JOIN cut USING (budget)""".stripMargin,
      reads = Seq(docsWithSimhash)),

    // EXACT-DEDUP-FIRST near-dup pairing — the production sequence
    // the sf5 probe proved necessary: at 49-clone duplicate density
    // the unbounded intersection frame over RAW docs exceeds local
    // spill disk (Σ df² grows with the square of clone multiplicity),
    // while collapsing exact clones FIRST (full-token hash → min-id
    // keeper) shrinks the pairing corpus by the clone factor and the
    // intersection frame by its square. Output pairs canonical
    // keepers with their clique sizes (copies_a/copies_b — how many
    // raw docs each endpoint represents), so downstream keeps the
    // full lineage. Since r15 this IS the shared keeper-pair cache's
    // convention (weighted df cap = the raw corpus's), so the query
    // is a filter + lineage join over the cache, and the pair list
    // equals d2's restricted to keepers BY CONSTRUCTION (clones add
    // no information to near-dup structure).
    Query("d31_dedup_first_pairs", (s, d) =>
      withCopiesLineage(keeperPairs(s, d),
        cloneMembers(s, d).groupBy("keeper")
          .agg(count(lit(1)).as("copies"))),
      // Mirrors d31: full-token-hash clone collapse (min-id keeper +
      // clique size), then d2's intersection chain restricted to the
      // keepers — the df cap on the WEIGHTED (raw-corpus) frequency
      // Σ copies, so the pair list is exactly d2's restricted to
      // keepers; identical jaccard gate.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS MATERIALIZED (SELECT min(doc_id) AS doc_id,
         |      count(*) AS copies
         |      FROM (SELECT doc_id, md5(array_to_string(toks, ' ')) AS k
         |            FROM t)
         |      GROUP BY k),
         |s AS (SELECT t.doc_id, $sh3Sql AS sh
         |      FROM t JOIN g ON t.doc_id = g.doc_id),
         |e0 AS (SELECT doc_id AS id, CAST(len(sh) AS BIGINT) AS n,
         |      unnest(sh) AS sh_s FROM s),
         |e AS MATERIALIZED (SELECT id, n,
         |      ${h60("concat('sh:', sh_s)")} AS s FROM e0),
         |rare AS (SELECT e.s FROM e JOIN g ON g.doc_id = e.id
         |      GROUP BY e.s HAVING sum(g.copies) <= 1000),
         |ec AS MATERIALIZED (SELECT e.* FROM e JOIN rare USING (s)),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a,
         |      b.n AS n_b, count(*) AS inter
         |      FROM ec a JOIN ec b ON a.s = b.s AND a.id < b.id
         |      GROUP BY 1, 2, 3, 4)
         |SELECT p.id_a, p.id_b,
         |  round(p.inter / CAST(p.n_a + p.n_b - p.inter AS DOUBLE), 6)
         |    AS jaccard,
         |  ga.copies AS copies_a, gb.copies AS copies_b
         |FROM p JOIN g ga ON ga.doc_id = p.id_a
         |JOIN g gb ON gb.doc_id = p.id_b
         |WHERE p.inter / CAST(p.n_a + p.n_b - p.inter AS DOUBLE)
         |  >= 0.8""".stripMargin,
      reads = Seq(cloneMembers, keeperPairs)),

    // d30's twin for the prefix-filter generator: the same curve over
    // d29's buckets and shared min-offset frame (B ∈ {1,2,4,8}) —
    // pairs_kept at B=2 equals d29's pair count by construction
    // (pinned in spec), so the two budget arms are priced by the same
    // instrument.
    Query("d32_prefix_budget_curve", (s, d) => {
      val (_, buckets) = prefixBucketFrames(s, d)
      DedupOps.budgetCurve(budgetPairs(s, d), buckets,
        budgets = Seq(1, 2, 4, 8))
    },
      // Mirrors d32: d29's pb window chain, offsets ≤ 8 with the ratio
      // gate, min offset per pair, ONE intersection verify, then the
      // d30-style budget spine (kept/slots/docs per B).
      s"""WITH $prefixPreCtes,
         |pb AS MATERIALIZED (SELECT pre.id, pre.n, pre.s,
         |      row_number() OVER (PARTITION BY pre.s
         |        ORDER BY pre.id) AS rn,
         |      count(*) OVER (PARTITION BY pre.s) AS cnt
         |      FROM pre JOIN ok ON pre.s = ok.s),
         |bud AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS budget),
         |wide AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b,
         |      a.n AS n_a, b.n AS n_b, min(b.rn - a.rn) AS min_off
         |      FROM pb a JOIN pb b ON a.s = b.s
         |        AND b.rn - a.rn BETWEEN 1 AND 8
         |      WHERE a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7
         |      GROUP BY 1, 2, 3, 4),
         |v AS MATERIALIZED (SELECT w.id_a, w.id_b, w.min_off,
         |      count(*) AS inter
         |      FROM wide w
         |      JOIN e ea ON ea.id = w.id_a
         |      JOIN e eb ON eb.id = w.id_b AND eb.s = ea.s
         |      GROUP BY 1, 2, 3
         |      HAVING count(*) * 17 >= (max(w.n_a) + max(w.n_b)) * 7),
         |kept AS (SELECT budget, count(*) AS pairs_kept
         |      FROM bud JOIN v ON v.min_off <= budget GROUP BY 1),
         |slots AS (SELECT id, cnt - rn AS n_succ FROM pb),
         |cut AS (SELECT budget,
         |      CAST(sum(greatest(n_succ - budget, 0)) AS BIGINT)
         |        AS slots_dropped,
         |      count(DISTINCT CASE WHEN n_succ > budget
         |        THEN id END) AS docs_truncated
         |      FROM bud CROSS JOIN slots GROUP BY 1)
         |SELECT bud.budget,
         |  coalesce(kept.pairs_kept, 0) AS pairs_kept,
         |  coalesce(cut.slots_dropped, 0) AS slots_dropped,
         |  coalesce(cut.docs_truncated, 0) AS docs_truncated
         |FROM bud LEFT JOIN kept USING (budget)
         |LEFT JOIN cut USING (budget)""".stripMargin,
      reads = Seq(budgetPairs, prefixBucketFrames)),

    // The COMPOSED production sequence (VERDICT r14 #3): d31's exact-
    // clone collapse FIRST, then d29's budgeted prefix-filter pairing
    // over the keepers only — the emission budget tames bucket
    // saturation, the collapse removes the duplicate DENSITY that
    // saturates buckets in the first place. At sf5's 49-clone corpus
    // this runs where raw-corpus d29 is 27× super-linear (the clone
    // cliques square the bucket arrays; keepers are density-invariant).
    // Pairs carry both the budget's LOUD trunc counters and the
    // collapse's copies lineage, so downstream keeps full accounting.
    // The df cap here is keeper-count (d31's convention — this is a
    // keeper-corpus operator, not a raw-frame reconstruction). Same
    // min-offset reader as d29, over the keeper buckets windowed at B=2.
    Query("d33_budget_on_keepers", (s, d) => {
      val copies = cloneMembers(s, d).groupBy("keeper")
        .agg(count(lit(1)).as("copies"))
      val (e, buckets) = keeperPrefixFrames(s, d)
      DedupOps.budgetedPairs(
          DedupOps.prefixVerifiedMinOff(e, buckets, 7, 10, maxB = 2),
          buckets, budget = 2)
        .join(copies.select(col("keeper").as("id_a"),
          col("copies").as("copies_a")), Seq("id_a"))
        .join(copies.select(col("keeper").as("id_b"),
          col("copies").as("copies_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"),
          col("trunc_a"), col("trunc_b"), col("copies_a"), col("copies_b"))
    },
      // Mirrors d33: d31's clone-collapse CTE feeds d29's prefix-budget
      // chain (the tSrc splice restricts the corpus to keepers), then
      // the copies lineage joins back on — trunc counts both dropped
      // successor and predecessor slots, like d28/d29.
      {
      val keeperSrc =
        s"""t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |g AS MATERIALIZED (SELECT min(doc_id) AS doc_id,
           |      count(*) AS copies
           |      FROM (SELECT doc_id, md5(array_to_string(toks, ' '))
           |              AS k FROM t0)
           |      GROUP BY k),
           |t AS (SELECT t0.doc_id, t0.toks FROM t0
           |      JOIN g ON t0.doc_id = g.doc_id)""".stripMargin
      s"""WITH ${prefixPreCtesFrom(keeperSrc)},
         |pb AS MATERIALIZED (SELECT pre.id, pre.n, pre.s,
         |      row_number() OVER (PARTITION BY pre.s
         |        ORDER BY pre.id) AS rn,
         |      count(*) OVER (PARTITION BY pre.s) AS cnt
         |      FROM pre JOIN ok ON pre.s = ok.s),
         |tr AS (SELECT id,
         |      CAST(sum(greatest(cnt - rn - 2, 0)
         |        + greatest(rn - 3, 0)) AS BIGINT) AS trunc
         |      FROM pb GROUP BY id),
         |pc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |      a.n AS n_a, b.n AS n_b
         |      FROM pb a JOIN pb b ON a.s = b.s
         |        AND b.rn - a.rn BETWEEN 1 AND 2
         |      WHERE a.n * 10 >= b.n * 7 AND b.n * 10 >= a.n * 7),
         |p AS (SELECT pc.id_a, pc.id_b, pc.n_a, pc.n_b,
         |      count(*) AS inter
         |      FROM pc
         |      JOIN e ea ON ea.id = pc.id_a
         |      JOIN e eb ON eb.id = pc.id_b AND eb.s = ea.s
         |      GROUP BY 1, 2, 3, 4)
         |SELECT p.id_a, p.id_b, p.inter,
         |  round(p.inter / CAST(p.n_a + p.n_b - p.inter AS DOUBLE), 6)
         |    AS jaccard,
         |  ta.trunc AS trunc_a, tb.trunc AS trunc_b,
         |  ga.copies AS copies_a, gb.copies AS copies_b
         |FROM p
         |JOIN tr ta ON ta.id = p.id_a
         |JOIN tr tb ON tb.id = p.id_b
         |JOIN g ga ON ga.doc_id = p.id_a
         |JOIN g gb ON gb.doc_id = p.id_b
         |WHERE p.inter * 17 >= (p.n_a + p.n_b) * 7""".stripMargin
    },
      reads = Seq(cloneMembers, keeperPrefixFrames)),

    Query("d21_minhash_error", (s, d) => {
      // DEDUP-FIRST form (VERDICT r15 #6): the signature-agreement
      // count n_match is a function of the two docs' shingle SETS, and
      // clones share them — so score KEEPER pairs against keeper sigs
      // (density-invariant: the only quadratic frame is keeper-sized)
      // and expand through the membership table afterwards. The
      // expansion is the OUTPUT (one row per verified raw pair — the
      // query's contract), but it is now the post-filter answer frame,
      // never a join input; intra-clique pairs are identical docs, so
      // n_match = 16 by construction (their sigs are equal arrays) and
      // their jaccard is the clique's capped surv/(2n − surv), exactly
      // the raw chain's. Output is bit-equal; the oracle is unchanged.
      val mem = cloneMembers(s, d)
      val sigs = keeperSigs(s, d)
      val crossK = keeperPairs(s, d).filter(jaccardGe08)
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
          Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("inter"),
          (col("n_a") + col("n_b") - col("inter")).as("uni"),
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), b => b)).cast("long").as("n_match"))
      val cross = crossK
        .join(mem.select(col("keeper").as("id_a"), col("id").as("ra")),
          Seq("id_a"))
        .join(mem.select(col("keeper").as("id_b"), col("id").as("rb")),
          Seq("id_b"))
        .select(least(col("ra"), col("rb")).as("id_a"),
          greatest(col("ra"), col("rb")).as("id_b"),
          col("inter"), col("uni"), col("n_match"))
      val intra = cliqueSelf(s, d)
        .filter(col("surv") / (col("n") + col("n") - col("surv")) >= 0.8)
        .select(col("keeper"), col("surv").as("inter"),
          (col("n") * 2 - col("surv")).as("uni"),
          lit(16L).as("n_match"))
        .join(mem.select(col("keeper"), col("id").as("ra")), Seq("keeper"))
        .join(mem.select(col("keeper"), col("id").as("rb")), Seq("keeper"))
        .filter(col("ra") < col("rb"))
        .select(col("ra").as("id_a"), col("rb").as("id_b"),
          col("inter"), col("uni"), col("n_match"))
      cross.unionByName(intra)
        .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          col("n_match"),
          round(col("n_match").cast("double") / lit(16.0), 6)
            .as("est_j"),
          round(col("inter") / col("uni"), 6).as("jaccard"))
    },
      // d21: d2's chain gives pairs + per-pair intersections; minhash
      // values per (doc, i) from d20's derived-h30 chain, matches
      // counted per pair. The match count joins mh3 THROUGH the
      // selected pairs (sel) — an earlier all-pairs-per-i form was
      // O(docs²·16) and exhausted 170+ GB at sf1 before the final join
      // would have discarded almost all of it (the Spark side always
      // scored only selected pairs).
      s"""WITH $d2Ctes,
         |e3 AS (SELECT id AS doc_id, s % 1073741824 AS h30 FROM e),
         |seeds AS (SELECT i,
         |      (${h60("concat('mh-a:', CAST(i AS VARCHAR))")}
         |        % 2147483646) + 1 AS a,
         |      ${h60("concat('mh-b:', CAST(i AS VARCHAR))")}
         |        % 2147483647 AS b
         |      FROM (SELECT unnest(range(16)) AS i) r(i)),
         |mh3 AS MATERIALIZED (SELECT doc_id, i,
         |      min((a * h30 + b) % 2147483647) AS h
         |      FROM e3 CROSS JOIN seeds GROUP BY doc_id, i),
         |sel AS MATERIALIZED (SELECT id_a, id_b, n_a, n_b, inter FROM p
         |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.8),
         |m AS (SELECT sel.id_a, sel.id_b,
         |      CAST(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END)
         |        AS BIGINT) AS n_match
         |      FROM sel JOIN mh3 ma ON ma.doc_id = sel.id_a
         |                JOIN mh3 mb ON mb.doc_id = sel.id_b
         |                           AND mb.i = ma.i
         |      GROUP BY 1, 2)
         |SELECT sel.id_a, sel.id_b, sel.inter,
         |  sel.n_a + sel.n_b - sel.inter AS uni, m.n_match,
         |  round(CAST(m.n_match AS DOUBLE) / 16.0, 6) AS est_j,
         |  round(sel.inter
         |    / CAST(sel.n_a + sel.n_b - sel.inter AS DOUBLE), 6)
         |    AS jaccard
         |FROM sel JOIN m ON sel.id_a = m.id_a AND sel.id_b = m.id_b"""
        .stripMargin,
      reads = Seq(cliqueSelf, cloneMembers, keeperPairs, keeperSigs)),

    // Cross-document duplicate-SPAN extraction — the exact-substring
    // dedup primitive (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better"): not "are these docs similar"
    // (d2/d14) but "WHICH token ranges are shared verbatim". Shape:
    // positional 5-gram hash index over the shared token cache →
    // df-cap at 1000 (drops boilerplate grams and bounds every
    // posting list, so the pair join is Σ df² with df ≤ 1000 — never
    // all-pairs) → self-join on the gram hash → gaps-and-islands
    // merge: matches of one (pair, diagonal pos_a−pos_b) with
    // consecutive positions are one maximal run, and pos_a −
    // row_number() is constant exactly on such runs. The merge window
    // partitions by (pair, diag) — many tiny partitions, no global
    // sort — and spans ≥ 8 tokens survive. At 100 TB this is the
    // span-level pass whole-doc verdicts (d1/d2/d3) cannot express:
    // partially-overlapping docs (quotes, syndication, template
    // reuse) surface as exact token ranges to cut. The df-cap can
    // split a span whose interior gram is corpus-frequent; the oracle
    // applies the identical cap, so parity is by construction.
    Query("d25_dup_spans", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 5 // gram width (tokens); L = 8 = min reported span
      // Checkpointed ONCE PER INVOCATION (OPT r19, guide §1.2 step 1):
      // this frame feeds the df-cap aggregate AND both sides of the
      // self-join, and the isnotnull/size predicates pushed below the
      // posexplode keep ReuseExchange from sharing the subtrees —
      // profiled at sf1 as FOUR ~32-task stages of 31-39 task-seconds
      // each, all re-running the gram explode + hash. The EAGER
      // localCheckpoint (deliberately NOT guard-persisted: a
      // session-lifetime cache would let a later bench pass skip the
      // gram computation — every invocation must compute from the
      // parquet inputs) materializes it once inside this invocation;
      // the three consumers read the checkpoint. At 100 TB:
      // "gram once → checkpoint → fan out".
      val grams = docsWithTokens(s, d)
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), size(col("toks")) - K),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(K))))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          DedupOps.hash60(lit("sp"), col("col")).as("h"))
        .localCheckpoint()
      val rare = grams.groupBy("h")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= 1000L)
        .select("h")
      val idx = grams.join(rare, Seq("h"))
      val matches = idx
        .select(col("h"), col("doc_id").as("id_a"), col("pos").as("pos_a"))
        .join(idx.select(col("h"), col("doc_id").as("id_b"),
          col("pos").as("pos_b")), Seq("h"))
        .filter(col("id_a") < col("id_b"))
      val w = Window
        .partitionBy(col("id_a"), col("id_b"), col("pos_a") - col("pos_b"))
        .orderBy(col("pos_a"))
      matches
        .withColumn("grp", col("pos_a") - row_number().over(w))
        .groupBy(col("id_a"), col("id_b"),
          (col("pos_a") - col("pos_b")).as("diag"), col("grp"))
        .agg(min(col("pos_a")).as("a_start"),
          min(col("pos_b")).as("b_start"),
          (max(col("pos_a")) - min(col("pos_a")) + K).as("span_len"))
        .filter(col("span_len") >= 8)
        .select(col("id_a"), col("id_b"), col("a_start"), col("b_start"),
          col("span_len"))
    },
      // d25: identical positional 5-gram hash index (same h60 seed
      // "sp"), identical df ≤ 1000 cap, identical gaps-and-islands
      // merge; DuckDB's range() positions are BIGINT, matching the
      // Spark side's explicit cast.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |k AS MATERIALIZED (SELECT doc_id, i AS pos,
         |    ${h60("concat('sp:', array_to_string(" +
            "list_slice(toks, i + 1, i + 5), ' '))")} AS h
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 4)) AS i
         |        FROM t WHERE len(toks) >= 5)),
         |rare AS (SELECT h FROM k GROUP BY h HAVING count(*) <= 1000),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.pos AS pos_a, b.pos AS pos_b
         |  FROM k a JOIN k b ON a.h = b.h
         |  JOIN rare ON rare.h = a.h
         |  WHERE a.doc_id < b.doc_id),
         |r AS (SELECT id_a, id_b, pos_a, pos_b,
         |    pos_a - pos_b AS diag,
         |    pos_a - row_number() OVER (
         |      PARTITION BY id_a, id_b, pos_a - pos_b
         |      ORDER BY pos_a) AS grp
         |  FROM p)
         |SELECT id_a, id_b, min(pos_a) AS a_start,
         |  min(pos_b) AS b_start,
         |  max(pos_a) - min(pos_a) + 5 AS span_len
         |FROM r GROUP BY id_a, id_b, diag, grp
         |HAVING max(pos_a) - min(pos_a) + 5 >= 8""".stripMargin,
      reads = Seq(docsWithTokens)),

    // 60-bit SimHash fingerprint per document.
    Query("d4_simhash", (s, d) => {
      docsWithSimhash(s, d).withColumnRenamed("id", "doc_id")
    },
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tk FROM t),
         |h AS (SELECT doc_id, ${h60("concat('t:', tk)")} AS h FROM tok),
         |b AS (SELECT doc_id, j,
         |      CASE WHEN sum(((h >> j) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END
         |        AS bit
         |      FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) r(j)
         |      GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash
         |FROM b GROUP BY doc_id""".stripMargin,
      reads = Seq(docsWithSimhash)),

    // SimHash near-dup pairs: 4x15-bit chunk banding (complete for
    // hamming <= 3 by pigeonhole) + exact hamming verify.
    Query("d5_simhash_pairs", (s, d) => {
      DedupOps.simhashPairs(docsWithSimhash(s, d), maxHamming = 3)
    },
      s"""WITH $simhashCfCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |      a.simhash AS sim_a, b.simhash AS sim_b
         |      FROM cf a JOIN cf b ON a.j = b.j AND a.chunk = b.chunk
         |        AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3""".stripMargin,
      reads = Seq(docsWithSimhash)),

    // Dedup clusters: the verified Jaccard pairs (same params as d2)
    // grouped into connected components — every doc labeled with its
    // component's min doc_id, i.e. the canonical copy to keep. The
    // oracle computes the same closure with a recursive CTE.
    Query("d7_dedup_clusters", (s, d) => {
      DedupOps.connectedComponents(verifiedPairs(s, d), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
    },
      s"""WITH RECURSIVE $d2Ctes,
         |pairs AS ($d2Select),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r
         |    JOIN edges e2 ON r.dst = e2.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src""".stripMargin,
      reads = Seq(verifiedPairs)),

    // d7's clustering recomputed by ALTERNATING STAR CONTRACTION
    // (VERDICT r15 #4): identical output contract — every doc labeled
    // with its component's min id over the same verified pairs — but
    // O(log n) rounds on ANY topology where d7's min-label Pregel pays
    // O(component diameter). On this corpus's clique-shaped duplicate
    // components both converge fast; the algorithm exists for the
    // 100× corpus whose near-dups CHAIN (A~B~C~…) — a path component
    // of 2^k docs costs min-label 2^k rounds and star contraction ~k
    // (StarContractionSpec pins the round counts on exactly that
    // fixture). Same recursive-CTE oracle as d7.
    Query("d34_star_contraction", (s, d) => {
      DedupOps.starContraction(verifiedPairs(s, d), "id_a", "id_b")._1
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
    },
      // d34: same closure oracle as d7 — the Spark side differs only in
      // HOW it converges (star contraction vs min-label), the relational
      // answer is identical by definition.
      s"""WITH RECURSIVE $d2Ctes,
         |pairs AS ($d2Select),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r
         |    JOIN edges e2 ON r.dst = e2.src)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src""".stripMargin,
      reads = Seq(verifiedPairs)),

    // Test-set decontamination: training docs (x6's hash split) that
    // share any 3-shingle with the held-out test split, with the
    // distinct-overlap count. One equi-join on the 8-byte shingle hash
    // + two hash-aggs; the shared shingle cache feeds both sides. The
    // test split here is 10% of the corpus so the join stays a shuffle
    // join — a benchmark-suite-sized held-out set would broadcast (see
    // DedupOps.decontaminate).
    Query("d8_decontaminate", (s, d) => {
      val withSplit = docsWithShingles(s, d).withColumn("bucket",
        TextOps.md5Prefix60(
          concat(lit("split:"), col("doc_id").cast("string"))) % 100)
      DedupOps.decontaminate(
        withSplit.filter(col("bucket") < 80),
        withSplit.filter(col("bucket") >= 90),
        "doc_id", "sh")
        .select(col("id").as("doc_id"), col("n_hits"))
    },
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
         |b AS (SELECT doc_id, sh,
         |      ${h60("concat('split:', CAST(doc_id AS VARCHAR))")} % 100
         |        AS bucket FROM s),
         |te AS (SELECT DISTINCT ${h60("concat('sh:', sh_s)")} AS sh_h
         |      FROM (SELECT unnest(sh) AS sh_s FROM b WHERE bucket >= 90)),
         |tr AS (SELECT doc_id, ${h60("concat('sh:', sh_s)")} AS sh_h
         |      FROM (SELECT doc_id, unnest(sh) AS sh_s FROM b
         |            WHERE bucket < 80))
         |SELECT doc_id, count(*) AS n_hits
         |FROM tr JOIN te USING (sh_h) GROUP BY 1""".stripMargin,
      reads = Seq(docsWithShingles)),

    // Integer PageRank over the verified near-dup graph (same pairs as
    // d2/d7): centrality of each doc within its duplicate cluster —
    // the doc most-connected to other near-dups is the natural
    // canonical copy when clusters are dense. Two rounds, micro-unit
    // fixed point, floor-div damping (see DedupOps.pageRank).
    Query("d9_pagerank", (s, d) => {
      DedupOps.pageRank(verifiedPairs(s, d), "id_a", "id_b", iters = 2)
        .select(col("id").as("doc_id"), col("pagerank_micro"))
    },
      s"""WITH $d2Ctes,
         |pairs AS MATERIALIZED ($d2Select),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |dg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT src AS id, deg, CAST(1000000 AS BIGINT) AS r
         |       FROM dg),
         |c1 AS (SELECT e.dst, sum(r.r // r.deg) AS in_sum
         |       FROM edges e JOIN r0 r ON e.src = r.id GROUP BY 1),
         |r1 AS MATERIALIZED (SELECT r0.id, r0.deg, CAST(150000 +
         |         (coalesce(c1.in_sum, 0) * 17) // 20 AS BIGINT) AS r
         |       FROM r0 LEFT JOIN c1 ON r0.id = c1.dst),
         |c2 AS (SELECT e.dst, sum(r.r // r.deg) AS in_sum
         |       FROM edges e JOIN r1 r ON e.src = r.id GROUP BY 1),
         |r2 AS (SELECT r1.id, CAST(150000 +
         |         (coalesce(c2.in_sum, 0) * 17) // 20 AS BIGINT) AS r
         |       FROM r1 LEFT JOIN c2 ON r1.id = c2.dst)
         |SELECT id AS doc_id, r AS pagerank_micro FROM r2""".stripMargin,
      reads = Seq(verifiedPairs)),

    // Embedding-cosine near-dup pairs — the TEST-SCALE-ONLY exactness
    // witness for the LSH path. This is a deliberate all-pairs
    // theta-join (O(n²) by construction) kept so v5_neardup_lsh /
    // v2_ann_lsh have an exact ground truth to be recall-checked
    // against; those two are the production path at scale. The guard
    // below mirrors kCore's loud-failure discipline: above the row
    // bound the query REFUSES to run rather than silently launching a
    // quadratic job — at 100 TB an unguarded all-pairs join is the
    // canonical cluster-killer, and a loud error is the only safe
    // behavior. (Excluded from the bench headline for the same reason;
    // see Bench.headline.)
    Query("d6_embedding_neardup", (s, d) => {
      val p = VectorOps.prepared(Tables.embeddings(s, d), "vec_id",
        "embedding")
      // the bound check is IN the plan (assert_true over a broadcast
      // 1-row count), not an eager count() at construction — registry
      // enumeration and plan audits must never launch a job (r11
      // verdict item 8); the refusal fires at execution, before the
      // quadratic join's output is consumed
      val bound = p.agg(count(lit(1)).as("n_corpus"))
        .select(col("n_corpus"), assert_true(col("n_corpus") <= 100000L,
          concat(lit("d6_embedding_neardup is the test-scale " +
            "exactness witness for the LSH near-dup path (all-pairs " +
            "O(n²) theta-join); corpus has "), col("n_corpus"),
            lit(" rows > 100000 bound — use v5_neardup_lsh or " +
              "v2_ann_lsh, the banded-LSH production path, at this " +
              "scale"))).as("__bound_ok"))
      val a = p.toDF("id_a", "v_a", "n2_a")
      val b = p.toDF("id_b", "v_b", "n2_b")
      a.join(b, col("id_a") < col("id_b"))
        .crossJoin(broadcast(bound))
        .filter(col("__bound_ok").isNull)
        .drop("n_corpus", "__bound_ok")
        .withColumn("cos", VectorOps.cosineFromParts(
          VectorOps.dot(col("v_a"), col("v_b")), col("n2_a"), col("n2_b")))
        .filter(col("cos") >= 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    },
      s"""WITH d AS (SELECT vec_id,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |n AS (SELECT vec_id, v,
         |      list_reduce(list_prepend(0.0, list_transform(range(len(v)),
         |        i -> v[i+1] * v[i+1])), (x, y) -> x + y) AS n2 FROM d)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round($dotSql / sqrt(a.n2 * b.n2), 6) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE $dotSql / sqrt(a.n2 * b.n2) >= 0.45""".stripMargin),

    // Asymmetric containment pairs: |A∩B|/|A| (and /|B|) ≥ 0.9 in
    // either direction over the same df-capped shingle index as d2 —
    // the "short doc embedded in a long one" detector that symmetric
    // Jaccard structurally misses (the union is dominated by the long
    // doc). Rides the shared dedup-first keeper caches (the two-sided
    // `greatest` predicate is symmetric, so the keeper-level filter +
    // expansion reproduces the raw chain exactly); only the final
    // predicate differs from d2.
    Query("d14_containment", (s, d) => {
      rawPairsWhere(s, d, greatest(col("inter") / col("n_a"),
          col("inter") / col("n_b")) >= 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("inter") / col("n_a"), 6).as("cont_ab"),
          round(col("inter") / col("n_b"), 6).as("cont_ba"))
    },
      // Mirrors d14: d2's candidate CTEs verbatim, containment predicate.
      s"""WITH $d2Ctes
         |SELECT id_a, id_b,
         |  round(inter / CAST(n_a AS DOUBLE), 6) AS cont_ab,
         |  round(inter / CAST(n_b AS DOUBLE), 6) AS cont_ba
         |FROM p
         |WHERE greatest(inter / CAST(n_a AS DOUBLE),
         |  inter / CAST(n_b AS DOUBLE)) >= 0.9""".stripMargin,
      reads = Seq(cliqueSelf, cloneMembers, keeperPairs)),

    // Canonical-representative selection — the "which duplicate do we
    // KEEP" decision that completes the dedup pipeline: d2 finds
    // pairs, d7 groups them into clusters, d15 elects each cluster's
    // best member (highest x3 quality score, smallest doc_id on ties)
    // and maps EVERY document to its canonical — unclustered docs map
    // to themselves, so the output is a total keep/drop verdict over
    // the corpus. Shape: the shared verified-pairs cache → components
    // → one per-cluster window argmax over O(cluster members) rows +
    // one anti-join for the singletons; nothing rescans the corpus
    // pairwise. At 100 TB this is the curation step that turns a
    // near-dup graph into an actual training set.
    Query("d15_canonical", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val clusters = DedupOps
        .connectedComponents(verifiedPairs(s, d), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster"))
      val quality = Tables.documents(s, d).select(col("doc_id"),
        round(TextOps.qualityScore(col("text")), 6).as("q"))
      val members = clusters.join(quality, Seq("doc_id"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("q").desc, col("doc_id").asc)
      val canon = members.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("canonical_id"))
      val clustered = members.join(canon, Seq("cluster"))
        .select(col("doc_id"), col("canonical_id"))
      val singles = quality.join(clusters, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("canonical_id"))
      clustered.unionAll(singles)
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).cast("long")
            .as("is_kept"))
    },
      // d7's recursive closure + x3's quality formula (copied verbatim —
      // the rounded score must match x3's to the last bit) + a
      // per-cluster argmax and a NOT IN for the self-canonical singletons
      s"""WITH RECURSIVE $d2Ctes,
         |pairs AS MATERIALIZED ($d2Select),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r
         |    JOIN edges e2 ON r.dst = e2.src),
         |comp AS MATERIALIZED (SELECT src AS doc_id, least(src, min(dst)) AS cluster
         |         FROM reach GROUP BY src),
         |tq AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |q AS MATERIALIZED (SELECT doc_id,
         |  round(least(1.0, len(toks) / 100.0) *
         |    (1.0 - CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE length(regexp_replace(text, '[a-z0-9\\s]', '', 'g'))
         |        / CAST(length(text) AS DOUBLE) END), 6) AS q
         |  FROM tq),
         |m AS MATERIALIZED (SELECT comp.doc_id, comp.cluster, q.q
         |      FROM comp JOIN q USING (doc_id)),
         |canon AS (SELECT cluster, doc_id AS canonical_id FROM (
         |  SELECT cluster, doc_id, row_number() OVER (PARTITION BY
         |    cluster ORDER BY q DESC, doc_id) AS rn FROM m)
         |  WHERE rn = 1),
         |u AS (SELECT m.doc_id, canon.canonical_id
         |      FROM m JOIN canon USING (cluster)
         |      UNION ALL
         |      SELECT q.doc_id, q.doc_id FROM q
         |      WHERE q.doc_id NOT IN (SELECT doc_id FROM comp))
         |SELECT doc_id, canonical_id,
         |  CAST(doc_id = canonical_id AS BIGINT) AS is_kept
         |FROM u""".stripMargin,
      reads = Seq(verifiedPairs)),

    // Per-document novelty: the fraction of a doc's distinct 3-shingles
    // that occur in NO other document — the inverse of d2's overlap
    // signal, and the metric a curation pipeline uses to up-weight
    // genuinely new content (near-dups score ~0, unique docs ~1).
    // Shape: one shingle-df hash-agg + one equi-join on the 8-byte
    // shingle hash back to the per-doc explode (the d8 discipline —
    // never a doc×doc comparison), both riding the shared shingle
    // cache. Docs too short to shingle (< 3 tokens) report 0 shingles
    // and a NULL ratio on both engines.
    Query("d12_novelty", (s, d) => {
      val dsh = docsWithShingles(s, d)
      val ex = dsh.select(col("doc_id"), explode(col("sh")).as("h"))
      val rare = ex.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") === 1).select(col("h"))
      val uniq = ex.join(rare, Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_unique"))
      dsh.select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          when(col("n_shingles") > 0,
            round(coalesce(col("n_unique"), lit(0L)) /
              col("n_shingles").cast("double"), 6)).as("novelty"))
    },
      // Mirrors d12: same shingle hashes as d2/d8, df built over per-doc
      // DISTINCT shingles, the one ratio rounded identically.
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
         |e AS (SELECT doc_id, ${h60("concat('sh:', sh_s)")} AS h
         |      FROM (SELECT doc_id, unnest(sh) AS sh_s FROM s)),
         |rare AS (SELECT h FROM e GROUP BY h HAVING count(*) = 1),
         |u AS (SELECT doc_id, count(*) AS n_unique
         |      FROM e JOIN rare USING (h) GROUP BY 1)
         |SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |  coalesce(u.n_unique, 0) AS n_unique,
         |  CASE WHEN len(sh) > 0 THEN
         |    round(coalesce(u.n_unique, 0) / CAST(len(sh) AS DOUBLE), 6)
         |  END AS novelty
         |FROM s LEFT JOIN u ON s.doc_id = u.doc_id""".stripMargin
  ,
      reads = Seq(docsWithShingles)))

  private val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"""

  /** Distinct 3-shingle list over `toks` (mirrors DedupOps.shingles). */
  private val sh3Sql =
    """list_distinct(list_transform(range(len(toks) - 2),
      |    i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))"""
      .stripMargin

  /** Portable seeded 60-bit hash (mirrors DedupOps.hash60). */
  private def h60(arg: String): String =
    s"CAST(concat('0x', substr(md5($arg), 1, 15)) AS BIGINT)"

  private val dotSql =
    """list_reduce(list_prepend(0.0, list_transform(range(len(a.v)),
      |      i -> a.v[i+1] * b.v[i+1])), (x, y) -> x + y)""".stripMargin

  /** d3's MinHash(16)/LSH(4×4) signature CTE chain (t → s → e → seeds
    * → mh → sig), shared with mv5's delta-probe restriction.
    */
  private def d3Ctes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
       |e AS (SELECT doc_id, ${h60("concat('sh:', s)")} % 1073741824
       |        AS h30
       |      FROM (SELECT doc_id, unnest(sh) AS s FROM s)),
       |seeds AS (SELECT i,
       |      (${h60("concat('mh-a:', CAST(i AS VARCHAR))")}
       |        % 2147483646) + 1 AS a,
       |      ${h60("concat('mh-b:', CAST(i AS VARCHAR))")}
       |        % 2147483647 AS b
       |      FROM (SELECT unnest(range(16)) AS i) r(i)),
       |mh AS (SELECT doc_id, i,
       |      min((a * h30 + b) % 2147483647) AS h
       |      FROM e CROSS JOIN seeds GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, i // 4 AS band,
       |      array_to_string(list(h ORDER BY i), ',') AS sg
       |      FROM mh GROUP BY doc_id, i // 4)""".stripMargin

  /** d2's CTE chain + final select, shared with d7 (which wraps the pair
    * list in a recursive reachability closure).
    *
    * MATERIALIZED (valid DuckDB/Postgres syntax, semantics-identical) on
    * the multiply-referenced CTEs: `e` feeds both rare and ec, and `ec`
    * self-joins in p. DuckDB 1.0 inlines CTEs by default, so consumers
    * that reference these chains repeatedly (d9's two PageRank sweeps,
    * d15's recursive closure) otherwise recompute the whole shingle
    * self-join per reference — measured at sf1: >45 min + 62 GB of
    * spill inlined vs 12 s materialized, identical rows.
    */
  private def d2Ctes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
       |e0 AS (SELECT doc_id AS id, CAST(len(sh) AS BIGINT) AS n,
       |      unnest(sh) AS sh_s FROM s),
       |e AS MATERIALIZED (SELECT id, n, ${h60("concat('sh:', sh_s)")} AS s FROM e0),
       |rare AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 1000),
       |ec AS MATERIALIZED (SELECT e.* FROM e JOIN rare USING (s)),
       |p AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
       |      count(*) AS inter
       |      FROM ec a JOIN ec b ON a.s = b.s AND a.id < b.id
       |      GROUP BY 1, 2, 3, 4)""".stripMargin

  private def d2Select =
    """SELECT id_a, id_b,
      |  round(inter / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
      |FROM p WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.8"""
      .stripMargin

  /** d5/d28/d30's SimHash chunk-index chain (t → tok → h → b → sh → c
    * → rare → cf): 60-bit fingerprints, 4×15-bit chunks, df-capped
    * buckets. `cf` is MATERIALIZED — every consumer self-joins it (or
    * the rn window over it), and DuckDB inlines CTEs by default (the
    * d21 sf1 lesson: an inlined multiply-referenced chain recomputes
    * the whole fingerprint pipeline per reference).
    */
  private def simhashCfCtes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tk FROM t),
       |h AS (SELECT doc_id, ${h60("concat('t:', tk)")} AS h FROM tok),
       |b AS (SELECT doc_id, j,
       |      CASE WHEN sum(((h >> j) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END
       |        AS bit
       |      FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) r(j)
       |      GROUP BY doc_id, j),
       |sh AS (SELECT doc_id,
       |      CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT)
       |        AS simhash
       |      FROM b GROUP BY doc_id),
       |c AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767
       |        AS chunk
       |      FROM sh CROSS JOIN (SELECT unnest(range(4)) AS j) r(j)),
       |rare AS (SELECT j, chunk FROM c GROUP BY j, chunk
       |      HAVING count(*) <= 10000),
       |cf AS MATERIALIZED (SELECT c.* FROM c JOIN rare USING (j, chunk))"""
      .stripMargin

  /** d17/d29's prefix-filter front half (t → s → e0 → e → dfg → r →
    * pre → ok): the rarity-ordered prefix index and its surviving
    * buckets. `e` (the verify index) and `pre` (the bucket members)
    * are each referenced twice downstream — MATERIALIZED for the same
    * reason as [[simhashCfCtes]]. `tSrc` lets d33 swap the raw corpus
    * for the clone-collapsed keepers.
    */
  private def prefixPreCtes: String = prefixPreCtesFrom(
    s"t AS (SELECT doc_id, $toksSql AS toks FROM documents)")

  private def prefixPreCtesFrom(tSrc: String) =
    s"""$tSrc,
       |s AS (SELECT doc_id, $sh3Sql AS sh FROM t),
       |e0 AS (SELECT doc_id AS id, CAST(len(sh) AS BIGINT) AS n,
       |      unnest(sh) AS sh_s FROM s),
       |e AS MATERIALIZED (SELECT id, n, ${h60("concat('sh:', sh_s)")} AS s
       |      FROM e0),
       |dfg AS (SELECT s, count(*) AS df FROM e GROUP BY s),
       |r AS (SELECT id, n, list(e.s ORDER BY df, e.s) AS sorted
       |      FROM e JOIN dfg USING (s) WHERE n > 0 GROUP BY id, n),
       |pre AS MATERIALIZED (SELECT id, n,
       |      unnest(list_slice(sorted, 1,
       |        CAST(n - (n * 7 + 9) // 10 + 1 AS INTEGER))) AS s
       |      FROM r),
       |ok AS (SELECT s FROM pre GROUP BY s HAVING count(*) <= 1000)"""
      .stripMargin

}
