package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline extension (SURVEY.md
  * §2.10): exact hash-dedup, n-gram Jaccard, MinHash+LSH banding, SimHash.
  * These generalize the reference's only dedup mechanism — the J1 left-anti
  * join on a natural key (`weather_report_data_full_load_pipeline.py:163-167`)
  * — from equality on a key to similarity on content.
  *
  * Scale design (the whole point at 100 TB):
  *  - Signatures (shingles, minhash, simhash) are computed in a single
  *    narrow projection per document — higher-order array functions, no
  *    explode until the join key is as small as a band signature.
  *  - Candidate generation is always an equi-join on a short key (band
  *    signature / simhash chunk / shingle), never an O(n²) cross join.
  *    Candidate verification (exact Jaccard / hamming) runs only on the
  *    equi-join survivors.
  *  - The shingle-pair join caps shingle document-frequency first: a
  *    shingle present in thousands of documents generates O(df²) candidate
  *    pairs while carrying no signal. Dropping df > cap shingles bounds
  *    the join fan-out — the standard trick from web-scale dedup pipelines.
  *  - All hashes are md5-derived (portable across engines for the oracle;
  *    at production scale swap in xxhash64 via the same seeded interface).
  *
  * Budgeted pairing (the bounded-emission valve): under budget B each
  * element of an id-sorted posting array pairs only with its B nearest
  * successors. One windowed expansion at the widest budget wanted, maxB,
  * emits every (a, b, off) with off ≤ maxB, and `min_off` is the
  * smallest offset at which ANY bucket places the pair. Every gate
  * (length ratio, hamming, exact verify) is a function of the pair
  * alone, so a pair survives budget B ≤ maxB iff min_off ≤ B: every
  * budgeted answer — the pairs at one B with their LOUD truncation
  * counters ([[budgetedPairs]]) and the kept/cut curve over several B
  * ([[budgetCurve]]) — is a filter or an aggregate of ONE min-offset
  * frame per generator ([[prefixVerifiedMinOff]], [[simhashMinOff]]),
  * and no budget is expanded twice.
  */
object DedupOps {

  /** Spread rows across the session's full parallelism before expensive
    * per-row compute. A small parquet file scans as ONE split, and
    * SinglePartition satisfies every clustering requirement — so without
    * this, Catalyst inserts no exchange anywhere and an entire
    * hash-heavy dedup pipeline runs as one task on one core (observed:
    * 167 s single-threaded vs ~2 s spread). The shuffle this adds moves
    * only the raw rows — cheap — and is the same discipline that matters
    * at 100 TB: partition by the COMPUTE, not by the input bytes.
    *
    * Apply to the RAW scan, before any heavy projection: projections
    * placed below the repartition collapse into the single-split scan
    * stage and still run on one core.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Seeded portable 60-bit hash: md5 of "seed:value", first 15 hex digits. */
  def hash60(seed: Column, s: Column): Column =
    TextOps.md5Prefix60(concat(seed, lit(":"), s))

  /** Driver-side twin of [[hash60]] for deriving constants (e.g. the
    * universal-hash seeds below) from the same portable formula.
    */
  def driverHash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Distinct word k-shingles of a token array (order-preserving windows,
    * then set semantics — Jaccard is over shingle *sets*). Executable
    * spec of [[shingleHashes]]: interpreted HOFs, kept for tests and for
    * callers that need the shingle STRINGS.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word k-shingles already reduced to their 60-bit content
    * hashes, in ONE native codegen'd pass — value-equal to
    * `transform(shingles(toks, k), s => hash60(lit("sh"), s))`
    * (DedupOpsSpec asserts it) but without the interpreted per-window
    * lambda/slice/concat churn that dominated the Jaccard profile. This
    * is the scale-path input for [[jaccardPairs]] / [[minhashSigs]].
    */
  def shingleHashes(toks: Column, k: Int): Column =
    org.apache.spark.sql.graft.ShingleExpressions.shingleHash60(toks, k)

  /** Exact dedup over an arbitrary canonicalization: group by the content
    * hash, elect the minimum id as keeper. Pure hash aggregation — one
    * shuffle on the hash, no joins.
    */
  def exactDedup(df: DataFrame, idCol: String, keyHash: Column): DataFrame =
    df.groupBy(keyHash.as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Test-set decontamination: for every training document, count how
    * many of its distinct shingles also occur anywhere in the held-out
    * set (docs with zero overlap don't appear — at corpus scale the
    * contaminated set is the small output you act on). Both inputs carry
    * a distinct-shingle column ([[shingleHashes]] longs or shingle
    * strings — the join key is whatever `shCol` holds, so use the SAME
    * producer on both sides).
    *
    * Shape: the held-out side collapses to its distinct shingle set
    * (hash-agg with map-side partials), then ONE equi-join on the 8-byte
    * shingle hash + one hash-agg — no pair explosion, no similarity
    * computation. The join is a shuffle join by default, which scales to
    * a held-out split of any size; when the held-out set is a benchmark
    * suite (thousands of docs, the common production case) wrap it in
    * `broadcast()` at the call site and the train side never shuffles.
    */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
      shCol: String): DataFrame = {
    val testSh = test.select(explode(col(shCol)).as("s")).distinct()
    // per-doc shingle sets are distinct, so (id, s) is unique and the
    // post-join count(*) IS the distinct overlap count — no second
    // dedup shuffle
    train.select(col(idCol).as("id"), explode(col(shCol)).as("s"))
      .join(testSh, "s")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** True when `shCol` already carries 60-bit shingle hashes
    * ([[shingleHashes]]) rather than shingle strings ([[shingles]]).
    */
  private def isHashed(docs: DataFrame, shCol: String): Boolean =
    docs.schema(shCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }

  /** Exploded inverted-index view (shingleHash, id, setSize). Shingles are
    * hashed to 60-bit ints up front: every downstream shuffle/group keys
    * on an 8-byte long instead of a ~20-byte string (collisions are
    * negligible and the oracle applies the same hash, so counts agree
    * either way). Accepts either shingle strings (hashed here) or
    * pre-hashed longs from [[shingleHashes]] (used as-is).
    */
  def shingleIndex(docs: DataFrame, idCol: String, shCol: String): DataFrame = {
    val e = docs.select(col(idCol).as("id"),
      size(col(shCol)).cast("long").as("n"), explode(col(shCol)).as("sh_e"))
    if (isHashed(docs, shCol))
      e.select(col("id"), col("n"), col("sh_e").as("s"))
    else
      e.select(col("id"), col("n"), hash60(lit("sh"), col("sh_e")).as("s"))
  }

  /** Exact n-gram Jaccard near-dup pairs: group the inverted index by
    * shingle, emit every ordered doc pair of a shingle's posting list,
    * count shared shingles per pair, threshold
    * |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Shape: groupBy(shingle) → in-row pair expansion → groupBy(pair).
    * Two hash-aggregate shuffles, no self-join. The document-frequency
    * cap (`size(postings) <= maxDocFreq`) both bounds the O(df²) pair
    * fan-out AND removes zero-signal stopword shingles — the standard
    * web-dedup trick; at 100 TB it is the difference between a linear
    * and a quadratic stage.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, shCol: String,
      threshold: Double, maxDocFreq: Long = 1000L): DataFrame =
    shingleIntersections(docs, idCol, shCol, maxDocFreq)
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** ASYMMETRIC near-dup: containment |A∩B|/|A| (and /|B|) over the
    * same df-capped shingle index as [[jaccardPairs]]. Containment is
    * what catches a short document embedded verbatim inside a long one
    * (quotes, wrapped articles, boilerplate-plus-payload) — Jaccard on
    * such a pair is small (the union is dominated by the long doc), so
    * symmetric dedup never sees it. A pair survives if EITHER direction
    * clears the threshold; both directions are reported so the consumer
    * knows which side is the contained one.
    */
  def containmentPairs(docs: DataFrame, idCol: String, shCol: String,
      threshold: Double, maxDocFreq: Long = 1000L): DataFrame =
    shingleIntersections(docs, idCol, shCol, maxDocFreq)
      .filter(greatest(col("inter") / col("n_a"),
        col("inter") / col("n_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter") / col("n_a"), 6).as("cont_ab"),
        round(col("inter") / col("n_b"), 6).as("cont_ba"))

  /** Shared candidate stage of [[jaccardPairs]]/[[containmentPairs]]:
    * df-capped shingle postings → in-row a<b pair expansion → per-pair
    * intersection counts with both set sizes carried.
    */
  private[graft] def shingleIntersections(docs: DataFrame, idCol: String,
      shCol: String, maxDocFreq: Long): DataFrame =
    intersectionCounts(shingleIndex(docs, idCol, shCol).groupBy("s")
      .agg(collect_list(struct(col("id"), col("n"))).as("ds"))
      .filter(size(col("ds")) <= maxDocFreq)
      .select(array_sort(col("ds")).as("ds")))

  /** Every a<b pair of each id-sorted posting array `ds`, as (a, b)
    * element structs — the one unbounded pair expansion. Two chained
    * Generates (codegen'd) rather than a nested transform+flatten
    * (interpreted); a.id < b.id keeps each unordered pair once. `ds` is
    * an aggregate output, so the second explode reads a materialized
    * array.
    */
  private def allPairs(postings: DataFrame): DataFrame =
    postings
      .select(col("ds"), explode(col("ds")).as("a"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.id") < col("b.id"))

  /** Per-pair shared-posting counts over (id, n) posting arrays, both
    * set sizes carried: (id_a, id_b, n_a, n_b, inter).
    */
  private def intersectionCounts(postings: DataFrame): DataFrame =
    allPairs(postings)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))

  /** Exact-clone membership over a tokenized corpus: every raw document
    * mapped to its clone clique's KEEPER (the minimum id among documents
    * with byte-identical token sequences — tokens are whitespace-split so
    * the single-space join is injective). This is the front half of the
    * dedup-first pair discipline (see [[weightedCappedIndex]]): at
    * adversarial duplicate density (sf5's 49-clone cliques) the raw-corpus
    * intersection frame grows with the SQUARE of clone multiplicity, while
    * the keeper corpus is density-invariant. Shape: one hash-agg on the
    * content key + one equi-join back — both linear, both shuffle on the
    * 32-hex key, no pairwise stage.
    */
  def cloneMembership(toks: DataFrame, idCol: String,
      toksCol: Column): DataFrame = {
    val keyed = toks.select(col(idCol).as("id"),
      md5(concat_ws(" ", toksCol)).as("k"))
    val g = keyed.groupBy("k").agg(min(col("id")).as("keeper"))
    keyed.join(g, "k").select(col("id"), col("keeper"))
  }

  /** WEIGHTED-df capped shingle index over a keeper corpus: `wCol` carries
    * each keeper's clone-clique size, and the document-frequency cap cuts
    * on Σ weights — i.e. on the RAW corpus's df — so the surviving shingle
    * set is exactly what the raw-corpus index ([[shingleIntersections]]'s
    * cap) would keep. That identity is what lets keeper-level pair frames
    * expand back to the raw-corpus answer bit-for-bit (QueriesDedup's
    * oracle parity) while the expensive Σ df² pair stage runs on keeper
    * df — smaller by the clone factor squared. Output: (id, n, s) rows
    * for surviving shingles, n = the keeper's FULL distinct-shingle count
    * (the Jaccard denominator is uncapped set size, as in the raw chain).
    */
  def weightedCappedIndex(docs: DataFrame, idCol: String, shCol: String,
      wCol: String, maxDocFreq: Long): DataFrame = {
    val e0 = docs.select(col(idCol).as("id"),
      size(col(shCol)).cast("long").as("n"), col(wCol).cast("long").as("w"),
      explode(col(shCol)).as("sh_e"))
    val e =
      if (isHashed(docs, shCol))
        e0.select(col("id"), col("n"), col("w"), col("sh_e").as("s"))
      else e0.select(col("id"), col("n"), col("w"),
        hash60(lit("sh"), col("sh_e")).as("s"))
    val ok = e.groupBy("s").agg(sum(col("w")).as("df"))
      .filter(col("df") <= maxDocFreq).select("s")
    e.join(ok, "s").select(col("id"), col("n"), col("s"))
  }

  /** Per-pair intersection counts from a prebuilt (id, n, s) index — the
    * back half of [[shingleIntersections]], exposed so keeper-corpus
    * callers reuse one capped index across the pair join and the per-doc
    * surviving counts. Posting arrays are bounded by the caller's df cap
    * (keeper df ≤ raw df ≤ cap), so the in-row a<b expansion stays
    * linear-per-bucket.
    */
  def pairIntersectionsFromIndex(idx: DataFrame): DataFrame =
    intersectionCounts(idx.groupBy("s")
      .agg(collect_list(struct(col("id"), col("n"))).as("ds"))
      .select(array_sort(col("ds")).as("ds")))

  /** Reconstruct the RAW-corpus pair frame (id_a, id_b, n_a, n_b, inter)
    * from keeper-level frames, applying the (symmetric) predicate BEFORE
    * expansion so only answer-sized frames materialize:
    *  - `keeperPairs`: (id_a, id_b, n_a, n_b, inter) over keepers
    *    ([[pairIntersectionsFromIndex]] of a [[weightedCappedIndex]]);
    *  - `cliqueSelf`: (keeper, n, surv, copies) — clone cliques with
    *    ≥ 2 copies and their surviving-shingle count (clones share one
    *    shingle set, so surv IS the intra-clique intersection);
    *  - `members`: (id, keeper) from [[cloneMembership]].
    * Cross-clique pairs fan out |Ca|·|Cb| with n following the smaller
    * raw id's clique; intra-clique pairs fan out C(copies, 2) with
    * n_a = n_b. Equals the raw [[shingleIntersections]] filtered by the
    * same predicate — DedupFirstCacheSpec pins the identity on a
    * clone-heavy fixture whose raw df crosses the cap.
    */
  def expandKeeperPairs(keeperPairs: DataFrame, cliqueSelf: DataFrame,
      members: DataFrame, pred: Column): DataFrame = {
    val cross = keeperPairs.filter(pred)
      .join(members.select(col("keeper").as("id_a"), col("id").as("ra")),
        Seq("id_a"))
      .join(members.select(col("keeper").as("id_b"), col("id").as("rb")),
        Seq("id_b"))
      .select(least(col("ra"), col("rb")).as("id_a"),
        greatest(col("ra"), col("rb")).as("id_b"),
        when(col("ra") < col("rb"), col("n_a")).otherwise(col("n_b"))
          .as("n_a"),
        when(col("ra") < col("rb"), col("n_b")).otherwise(col("n_a"))
          .as("n_b"),
        col("inter"))
    val intra = cliqueSelf
      .select(col("keeper"), col("n").as("n_a"), col("n").as("n_b"),
        col("surv").as("inter"))
      .filter(pred)
      .join(members.select(col("keeper"), col("id").as("ra")), Seq("keeper"))
      .join(members.select(col("keeper"), col("id").as("rb")), Seq("keeper"))
      .filter(col("ra") < col("rb"))
      .select(col("ra").as("id_a"), col("rb").as("id_b"),
        col("n_a"), col("n_b"), col("inter"))
    cross.unionByName(intra)
  }

  /** Prefix-filter set-similarity self-join — the PPJoin candidate
    * discipline, the third candidate generator beside the df-capped
    * full index ([[jaccardPairs]]) and MinHash banding: order every
    * document's distinct shingles by ONE global rarity order (df asc,
    * hash asc), keep only the first `n − ceil(t·n) + 1` of them, and
    * bucket-join on those prefixes. The prefix-filter theorem makes
    * this LOSSLESS: two sets with Jaccard ≥ t must share at least one
    * element inside both prefixes — so unlike the df-cap (which drops
    * stopword shingles and with them any pair relying solely on them),
    * pruning here costs no recall, while candidate volume shrinks to
    * the rare-element collisions (prefixes are rarest-first BY
    * CONSTRUCTION, so buckets are small where it matters). The length
    * pre-filter (t·max ≤ min, exact integers) kills cross-size pairs
    * before the verify join.
    *
    * Threshold is the exact fraction `tNum/tDen`; every gate — prefix
    * length (integer ceil via div), length filter, and the final
    * Jaccard test `inter·(tDen+tNum) ≥ tNum·(n_a+n_b)` — is integer
    * arithmetic, so both engines cut identically. `maxBucket` caps the
    * in-row pair fan-out (the house df-cap discipline; mirrored by the
    * oracle).
    *
    * Shape: shingle-df hash-agg → per-doc sort+slice (in-row) →
    * bucket hash-agg with in-row a<b expansion → distinct candidates →
    * two equi-joins against the shingle index to count exact
    * intersections. No doc×doc stage anywhere.
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, shCol: String,
      tNum: Int, tDen: Int, maxBucket: Long = 1000L): DataFrame = {
    val (e, buckets) = prefixBuckets(docs, idCol, shCol, tNum, tDen, maxBucket)
    prefixFilterPairsFrom(e, buckets, tNum, tDen)
  }

  /** [[prefixFilterPairs]] over prebuilt (e, buckets) frames — the
    * entry point for callers that share ONE cached bucket frame
    * across the unbounded and budgeted consumers (the
    * `dedup.prefix_buckets` shared frame).
    */
  def prefixFilterPairsFrom(e: DataFrame, buckets: DataFrame,
      tNum: Int, tDen: Int): DataFrame =
    verifyJaccardPairs(
      allPairs(buckets).filter(lengthRatioOk(tNum, tDen))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct(),
      e, tNum, tDen)

  /** The prefix-filter length pre-filter on an (a, b) element pair:
    * t·max ≤ min, both directions in exact integers.
    */
  private def lengthRatioOk(tNum: Int, tDen: Int): Column =
    col("a.n") * lit(tDen) >= col("b.n") * lit(tNum) &&
      col("b.n") * lit(tDen) >= col("a.n") * lit(tNum)

  /** The shared front half of the prefix-filter pipeline: the per-doc
    * shingle index `e` (id, n, s) and the prefix buckets as id-sorted
    * posting arrays — extracted so the unbounded [[prefixFilterPairs]]
    * and the budgeted [[prefixVerifiedMinOff]] read ONE construction
    * (divergence here would silently change what the budget arm is an
    * approximation OF).
    */
  private[graft] def prefixBuckets(docs: DataFrame, idCol: String,
      shCol: String, tNum: Int, tDen: Int, maxBucket: Long)
      : (DataFrame, DataFrame) = {
    require(tNum > 0 && tDen > tNum, s"threshold must be in (0,1): $tNum/$tDen")
    val e = shingleIndex(docs, idCol, shCol).filter(col("n") > 0)
    val dfG = e.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = e.join(dfG, Seq("s"))
      .groupBy("id", "n")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("sorted"))
    val prefLen = (col("n") -
      expr(s"(n * $tNum + $tDen - 1) div $tDen") + 1).cast("int")
    val pre = ranked.select(col("id"), col("n"),
      explode(slice(col("sorted"), lit(1), prefLen)).as("s"))
    val buckets = pre.groupBy("s")
      .agg(collect_list(struct(col("id"), col("n"))).as("ds"))
      .filter(size(col("ds")) <= maxBucket)
      .select(array_sort(col("ds")).as("ds"))
      // Spread the posting arrays BEFORE the quadratic in-row
      // expansion: the bucket frame itself is small (one row per
      // prefix shingle), so AQE coalesces its shuffle to a handful of
      // partitions — but the explode² each consumer runs amplifies it
      // by the bucket sizes, and a narrow chain inherits the
      // pre-amplification partitioning (measured at sf1: d17 on 28
      // tasks = 331 s; full fan-out restores ~n_cores parallelism).
      // Round-robin repartition is safe: bucket rows are independent.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    (e, buckets)
  }

  /** The shared back half: exact-intersection verification of candidate
    * pairs against the shingle index, with the symmetric Jaccard gate
    * in exact integers. Output: (id_a, id_b, inter, jaccard) followed by
    * the candidate frame's other columns, passed through unchanged.
    *
    * IN-ROW intersection (r18): pack each doc's shingle set once
    * (O(corpus) rows), join candidate pairs to the two arrays by id,
    * and intersect per pair in the projection. The old formulation
    * joined pairs to the EXPLODED index on (id_b, s) — a shuffle of
    * |cand| · |shingles(a)| rows plus a pair-grained hash aggregate,
    * measured at ~1.6k CPU-seconds for d17's sf1 clone density; this
    * shape shuffles |cand| rows carrying two packed arrays and pays
    * O(|A|+|B|) per pair in-row (d17 sf1: 55.7 s → a fraction; same
    * exact integers, zero-intersection pairs die at the same gate).
    */
  private def verifyJaccardPairs(cand: DataFrame, e: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    // SORTED packed sets + native merge-count: `size(array_intersect)`
    // hash-builds and allocates the intersection array per candidate
    // pair just to read its length — 326 task-seconds of d17's sf1
    // verify stage. Sorting once per DOC (amortized over all its pairs)
    // lets a zero-allocation two-pointer merge produce the identical
    // distinct count per pair.
    val packed = e.groupBy(col("id"), col("n"))
      .agg(array_sort(collect_set(col("s"))).as("ss"))
    val ea = packed.select(col("id").as("id_a"), col("n").as("n_a"),
      col("ss").as("ss_a"))
    val eb = packed.select(col("id").as("id_b"), col("n").as("n_b"),
      col("ss").as("ss_b"))
    val extra = cand.columns.filterNot(Set("id_a", "id_b")).map(col).toSeq
    cand.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(Seq(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        org.apache.spark.sql.graft.SetExpressions
          .sortedIntersectCount(col("ss_a"), col("ss_b"))
          .as("inter")) ++ extra: _*)
      .filter(col("inter") * lit(tDen + tNum) >=
        (col("n_a") + col("n_b")) * lit(tNum))
      .select(Seq(col("id_a"), col("id_b"), col("inter"),
        round(col("inter") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
          .as("jaccard")) ++ extra: _*)
  }

  /** Connected components over an undirected pair list (the last step of
    * every near-dup pipeline: verified pairs → dedup clusters → keep one
    * canonical doc per cluster). Min-label propagation: every node starts
    * labeled with its own id; each round a node takes the minimum of its
    * label and its neighbors' labels; at fixpoint every node of a
    * component carries the component's minimum id.
    *
    * Shape per round: one equi-join of the symmetrized edge list
    * against the current labels + a hash aggregate — the standard
    * Pregel iteration, O(|E|) per round, converging in O(component
    * diameter) rounds. Near-dup clusters are band-collision cliques, so
    * their diameter is tiny (2–4) in practice; `maxIters` guards the
    * adversarial chain case, and the [[GraphOps.fixpoint]] FAILS LOUDLY
    * rather than return half-propagated labels. The per-round label-sum
    * is the convergence probe of the iterative algorithm (same as
    * GraphX/Pregel) — it moves one row to the driver, not data.
    *
    * Output: (id, cluster) — every node that appears in `pairs`, labeled
    * with the min id of its component. Docs in no pair are their own
    * cluster by definition and don't need rows.
    *
    * Round i+1's plan references round i TWICE (once in the neighbor
    * join, once as the self-vote), which is why every round's labels
    * go through [[GraphOps.cut]].
    */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
      maxIters: Int = 50): DataFrame = GraphOps.withSymmetrized(
      pairs.select(col(idACol).cast("long").as("src"),
        col(idBCol).cast("long").as("dst")), "src", "dst") { sym =>
    // labels are MONOTONE non-increasing (each round takes a min that
    // includes the node's own previous label), so Σ labels strictly
    // decreases iff ANY label changed — an O(1)-output aggregate, no
    // next-vs-previous join. No overflow: Σ ≤ n · max_id ≪ Long range
    // for every id space here (ids < 10^9, the GraphOps.OrientBase
    // bound).
    def labelSum(labels: DataFrame): Long =
      labels.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    // fuse round 1 into the init: every node starts at min(own id,
    // direct neighbors) — one fewer iteration for free
    val init = GraphOps.cut(sym.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("id"), col("label")))
    val ((labels, _), _) = GraphOps.fixpoint("connectedComponents",
        (init, labelSum(init)), maxIters) { case (labels, prevSum) =>
      // one round = ONE join + ONE aggregate: neighbor votes from the
      // edge join, the node's own previous label unioned in as a
      // self-vote — min over both IS least(own, min-neighbor)
      val next = GraphOps.cut(sym
        .join(labels.select(col("id").as("dst"), col("label")),
          Seq("dst"))
        .select(col("src"), col("label"))
        .unionAll(labels.select(col("id").as("src"), col("label")))
        .groupBy(col("src")).agg(min(col("label")).as("label"))
        .select(col("src").as("id"), col("label")))
      // ONE action per round: the sum probe materializes `next`
      val s = labelSum(next)
      ((next, s), s == prevSum)
    }
    // labels is checkpointed: this projection does not depend on `sym`,
    // so callers hold exactly one output-sized frame
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION, the
    * O(log n)-round alternative to [[connectedComponents]]'s
    * O(diameter) min-label Pregel: the two-phase algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond"
    * (SoCC'14). Edges are kept oriented child→parent (src > dst);
    * each round applies
    *
    *  - **large-star**: every node attaches its LARGER neighbors
    *    directly to the minimum of its closed neighborhood, halving
    *    long chains upward;
    *  - **small-star**: every node re-points itself and its smaller
    *    non-min parents at its minimum parent, flattening the local
    *    tree into a star;
    *
    * until the edge set is a fixpoint — at which point every edge is
    * (node → component-min) and labels read off directly. Both phases
    * are one groupBy + one equi-join over the edge list (same per-round
    * movement as one min-label round), but the ROUND COUNT is
    * O(log n) on any topology: a path of 2^k nodes converges in ~k
    * rounds where min-label pays 2^k (StarContractionSpec pins both).
    * That is the property that keeps the dedup-cluster step safe when
    * a 100× corpus contains CHAINED near-duplicates (A~B~C~…) instead
    * of band-collision cliques. Each round is [[GraphOps.cut]] (each
    * phase's plan references the previous frame twice — uncut, the
    * plan tree doubles per round), and the [[GraphOps.fixpoint]]'s
    * probe (symmetric difference, first row only) is the round's single
    * action.
    *
    * Returns (labels, rounds): labels = (id, cluster) for every node
    * appearing in `pairs`, cluster = component min id.
    */
  def starContraction(pairs: DataFrame, idACol: String, idBCol: String,
      maxIters: Int = 50): (DataFrame, Int) = {
    val ab = pairs.select(col(idACol).cast("long").as("a"),
      col(idBCol).cast("long").as("b"))
    val nodes = GraphOps.cut(ab.select(col("a").as("id"))
      .union(ab.select(col("b").as("id"))).distinct())
    val init = GraphOps.cut(ab.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct())

    // large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) ∀ v ∈ Γ(u), v > u.
    // Each oriented edge (c, p) is seen from BOTH endpoints' groups, so
    // the child always survives via the smaller endpoint's emission.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.union(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      sym.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // small-star(u): m = min(N(u)) over u's parents; re-point u and
    // every non-min parent at m. Keeps the child→parent orientation.
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy("src").agg(min(col("dst")).as("m"))
      edges.join(m, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    val (e, rounds) = GraphOps.fixpoint("starContraction", init,
        maxIters) { e =>
      val next = GraphOps.cut(smallStar(largeStar(e)))
      // the round's probe: any edge in exactly one of the two sets
      // means another round (materializes `next` as a side effect)
      val changed = next.exceptAll(e).union(e.exceptAll(next))
        .limit(1).count() > 0
      (next, !changed)
    }
    val labels = nodes.join(
      e.select(col("src").as("id"), col("dst").as("cluster")),
      Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (labels, rounds)
  }

  /** Integer PageRank over an undirected pair list: `iters` rounds of
    * r' = (1-d)·10^6 + d·Σ_in (r div deg) with d = 17/20, all in
    * micro-units with FLOOR division — every round is integer-exact, so
    * an iterative centrality measure can hash-match a cross-engine
    * oracle (the same reason v7's k-means uses fixed-point means). The
    * floor-div damping loses < 1 micro-unit per in-edge vs real-valued
    * PageRank — noise at the 10^6 scale, and a price worth paying for
    * bit-reproducibility.
    *
    * Shape per round: one equi-join (edges × ranks, on the 8-byte node
    * id) + one hash agg — identical movement pattern to one
    * [[connectedComponents]] round; a fold over `iters` rounds, each
    * [[GraphOps.cut]]. `iters` = 0 returns every node at 10^6. Isolated
    * nodes don't appear (every node in a pair list has degree ≥ 1).
    */
  def pageRank(pairs: DataFrame, idACol: String, idBCol: String,
      iters: Int): DataFrame = GraphOps.withSymmetrized(
      pairs.select(col(idACol).cast("long").as("src"),
        col(idBCol).cast("long").as("dst")), "src", "dst") { sym =>
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val init = GraphOps.cut(deg.select(col("src").as("id"), col("deg"),
      lit(1000000L).as("r")))
    (1 to iters).foldLeft(init) { (ranks, _) =>
      val contrib = sym
        .join(ranks, sym("src") === ranks("id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      GraphOps.cut(ranks.join(contrib, ranks("id") === contrib("dst"),
          "left")
        .select(col("id"), col("deg"),
          (lit(150000L) +
            expr("(coalesce(in_sum, CAST(0 AS BIGINT)) * 17) div 20"))
            .as("r")))
    }.select(col("id"), col("r").as("pagerank_micro"))
  }

  /** Mersenne prime 2^31-1: modulus of the Carter-Wegman hash family.
    * With inputs reduced to 30 bits and a < p, products stay below 2^61
    * (no 64-bit overflow — engines with checked arithmetic compute
    * identically) while wrapping p many times over, which is what makes
    * the per-seed argmins independent. (A modulus larger than a·x, e.g.
    * 2^61-1, silently degenerates: no wraparound → the hash is monotone
    * in x → every seed elects the same shingle.)
    */
  val MinhashP: Long = 2147483647L

  /** md5-derived (portable) family seeds: a in [1, p-1], b in [0, p-1]. */
  def minhashSeedA(i: Int): Long = driverHash60(s"mh-a:$i") % (MinhashP - 1) + 1
  def minhashSeedB(i: Int): Long = driverHash60(s"mh-b:$i") % MinhashP

  /** MinHash signature table (id, sig: array[n]): minimum of the i-th
    * universal hash over the document's shingle set, for seeds 0..n-1.
    *
    * Shape matters at scale AND under a cold JIT:
    *  - ONE md5 per shingle (the portable 60-bit content hash, reduced to
    *    30 bits), then n arithmetic hashes — not n md5s; the per-element
    *    work is cheap even interpreted;
    *  - posexplode of the hash array so nothing is re-evaluated per seed
    *    (CollapseProject would inline an n-column min(element_at(...))
    *    formulation into n× recompute);
    *  - per-seed minima via hash aggregate — partial aggregation collapses
    *    each doc before the exchange, so the shuffle is O(docs·n), not
    *    O(shingles·n).
    */
  def minhashSigs(docs: DataFrame, idCol: String, shCol: String,
      n: Int): DataFrame = {
    if (isHashed(docs, shCol)) {
      // Scale path: the whole signature is ONE narrow codegen'd pass per
      // row (no posexplode row blow-up, no (id, seed) exchange) — at
      // 100 TB signature computation costs zero shuffles and only the
      // band equi-join exchanges data. The empty filter mirrors the
      // exploded spec below, which drops shingle-less docs at the
      // Generate.
      docs.filter(size(col(shCol)) > 0)
        .select(col(idCol).as("id"),
          org.apache.spark.sql.graft.SignatureExpressions
            .minhashSig(col(shCol), n).as("sig"))
    } else {
      // Executable spec (string shingles): explode + per-seed aggregate.
      // The md5 runs inside the first Generate so its output rows carry
      // the materialized 30-bit hash — a Generate boundary is one of the
      // few walls CollapseProject cannot inline expressions through.
      val aLit = array((0 until n).map(i => lit(minhashSeedA(i))): _*)
      val bLit = array((0 until n).map(i => lit(minhashSeedB(i))): _*)
      val e = docs
        .select(col(idCol).as("id"),
          explode(transform(col(shCol),
            s => hash60(lit("sh"), s) % (1L << 30))).as("h30"))
        .select(col("id"), posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => (element_at(aLit, i + 1) * col("h30") + element_at(bLit, i + 1))
            % MinhashP)))
        .toDF("id", "i", "h")
      e.groupBy("id", "i").agg(min(col("h")).as("mh"))
        .groupBy("id").agg(
          transform(array_sort(collect_list(struct(col("i"), col("mh")))),
            x => x.getField("mh")).as("sig"))
    }
  }

  /** LSH banding: explode the signature into `bands` rows keyed by the
    * concatenated minhashes of that band — docs agreeing on any full band
    * become candidates via a plain equi-join on (band, sig).
    */
  def lshBands(docs: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"), col(sigCol))
      .select(col("id"), col("band"),
        concat_ws(",",
          slice(col(sigCol), col("band") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("sig"))

  /** Distinct candidate pairs sharing at least one LSH band. */
  def lshCandidates(bandsDf: DataFrame): DataFrame = {
    val a = bandsDf.toDF("id_a", "band", "sig")
    val b = bandsDf.toDF("id_b", "band", "sig")
    a.join(b, Seq("band", "sig")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** 60-bit SimHash over a document's distinct tokens: per bit j, sum the
    * ±1 votes of each token hash's j-th bit; the fingerprint sets bit j
    * when the vote is positive. ONE narrow codegen'd pass per row — the
    * signature costs zero shuffles; only the chunk equi-join downstream
    * exchanges data. The empty filter mirrors [[simhashSpec]], which
    * drops token-less docs at its Generate.
    */
  def simhash(docs: DataFrame, idCol: String, toksCol: Column,
      bits: Int = 60): DataFrame = {
    require(bits == 60, s"native simhash is fixed at 60 bits, got $bits")
    docs.filter(size(toksCol) > 0)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.SignatureExpressions
          .simhashFromTokens(toksCol).as("simhash"))
  }

  /** Executable spec of [[simhash]] in composed Catalyst: explode the
    * distinct tokens, md5-hash each, collect through the aggregation
    * barrier, fold the 60 bit-votes in one narrow projection. (A
    * 60-column sum() aggregate would work too, but its generated code is
    * enormous — it thrashes the whole-stage-codegen cache when many
    * queries share the session.) Kept for the value-equality test.
    */
  def simhashSpec(docs: DataFrame, idCol: String, toksCol: Column,
      bits: Int = 60): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"), explode(array_distinct(toksCol)).as("t"))
      .select(col("id"), hash60(lit("t"), col("t")).as("h"))
    val hs = tok.groupBy("id").agg(collect_list(col("h")).as("hs"))
    val powers = array((0 until bits).map(j => lit(1L << j)): _*)
    val fingerprint = aggregate(powers, lit(0L), (acc, p) =>
      acc + when(
        aggregate(col("hs"), lit(0L), (vacc, h) =>
          vacc + when(h.bitwiseAND(p) =!= lit(0L), lit(1L))
            .otherwise(lit(-1L))) > 0, p).otherwise(lit(0L)))
    hs.select(col("id"), fingerprint.as("simhash"))
  }

  /** Hamming-LSH over SimHash: split the fingerprint into `chunks` equal
    * bit ranges; pairs within hamming distance < chunks must share a chunk
    * (pigeonhole), so chunk equality is a complete candidate generator.
    */
  def simhashChunks(sims: DataFrame, chunks: Int, chunkBits: Int): DataFrame =
    sims.select(col("id"), col("simhash"),
      explode(sequence(lit(0), lit(chunks - 1))).as("j"))
      .select(col("id"), col("simhash"), col("j"),
        expr(s"shiftright(simhash, $chunkBits * j)")
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("chunk"))

  /** Candidate pairs by shared chunk, verified by exact hamming distance.
    *
    * Shape mirrors [[jaccardPairs]]: group the chunk index by (band,
    * chunk value) into posting lists, expand pairs in-row via two chained
    * Generates, then distinct + hamming verify. Two hash-aggregate
    * shuffles, NO self-join — which both removes the double evaluation of
    * the whole simhash pipeline (a self-join recomputes its input plan on
    * each side) and makes the frequency cap natural.
    *
    * `maxChunkFreq` bounds the O(df²) fan-out of a saturated chunk value:
    * with b-bit chunks, any cluster of >2^b near-identical fingerprints
    * collides a chunk value for MANY docs and the pair expansion goes
    * quadratic on that one skewed key. Dropping over-full buckets bounds
    * the stage at linear cost for a bounded, tunable recall loss — the
    * same df-cap discipline as the shingle index. The pigeonhole guard
    * (`maxHamming < chunks`) fails fast on parameter combinations where
    * chunk-equality banding is no longer a complete candidate generator
    * (silent recall loss otherwise).
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int, chunks: Int = 4,
      chunkBits: Int = 15, maxChunkFreq: Long = 10000L): DataFrame = {
    val postings =
      simhashPostings(sims, maxHamming, chunks, chunkBits, maxChunkFreq)
    // Hamming-verify BEFORE the distinct: bit_count per candidate
    // occurrence is a codegen'd two-instruction check, while the distinct
    // is a shuffle — filtering first means the exchange carries only the
    // (rare) verified pairs as three longs, not every candidate with two
    // 8-byte fingerprints attached. Duplicated candidates (a pair sharing
    // several chunks) collapse in the distinct; hamming is functionally
    // dependent on the pair so it dedups with it.
    //
    // CHUNKED, SPREAD expansion against skew: the naive explode²
    // expands a whole bucket inside the ONE task that holds its
    // posting row — a maxChunkFreq-saturated bucket is C(10k,2) ≈ 50M
    // pairs of serial work, measured at sf1 as a 28 s single-straggler
    // wall on 72 task-seconds. Each bucket's pair space is first split
    // into slices of ≤ [[ExpansionSlice]] lead elements (small buckets
    // get exactly one slice — no inflation), the slice rows are
    // round-robined across the cluster, and only then does each slice
    // expand its elements × successors. Per-row work is bounded by
    // slice·|ds| at ANY bucket size; the slice shuffle moves
    // Σ ceil(|ds|/slice)·|ds| posting bytes — linear except for the few
    // saturated buckets whose expansion is the point of spreading.
    // Pair set and output are IDENTICAL (slices partition the i-space).
    // only multi-slice (large) buckets pay the spread shuffle; a
    // single-slice bucket expands where its posting row lives, so the
    // common small-bucket case adds no exchange (the two branches read
    // one postings aggregate and run concurrently)
    val parts = sims.sparkSession.sessionState.conf.numShufflePartitions
    val sliced = postings
      .select(col("ds"), explode(sequence(lit(0),
        ((size(col("ds")) - 1) / lit(ExpansionSlice)).cast("int")))
        .as("sl"))
    val inPlace = sliced.filter(size(col("ds")) <= lit(ExpansionSlice))
    val spread = sliced.filter(size(col("ds")) > lit(ExpansionSlice))
      .repartition(parts)
    inPlace.unionAll(spread)
      .select(col("ds"), col("sl"), posexplode(col("ds")).as(Seq("i", "a")))
      .filter((col("i") / lit(ExpansionSlice)).cast("int") === col("sl"))
      .select(col("a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), pairHamming)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact hamming distance of an (a, b) fingerprint element pair. */
  private def pairHamming: Column =
    expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming")

  /** Lead elements per expansion slice of one bucket's pair space —
    * bounds a slice row's in-row expansion at slice·|bucket| pairs so
    * a saturated bucket's quadratic fan-out spreads across the cluster
    * instead of serializing in one task ([[simhashPairs]]).
    */
  private val ExpansionSlice = 256

  /** The shared chunk-posting construction of [[simhashPairs]] and its
    * budgeted arm ([[simhashMinOff]]): (j, chunk) buckets as id-sorted
    * posting arrays of (id, simhash), over-full buckets dropped (the
    * df-cap discipline). One construction so the budget arm approximates
    * exactly the frame the unbounded form expands. The pigeonhole guard
    * lives here because chunk equality is a complete candidate generator
    * for `maxHamming` only while maxHamming < chunks.
    */
  private[graft] def simhashPostings(sims: DataFrame, maxHamming: Int,
      chunks: Int = 4, chunkBits: Int = 15,
      maxChunkFreq: Long = 10000L): DataFrame = {
    require(maxHamming < chunks,
      s"pigeonhole completeness needs maxHamming < chunks " +
        s"(got maxHamming=$maxHamming, chunks=$chunks): a pair may differ " +
        s"in every chunk once hamming >= chunks")
    simhashChunks(sims, chunks, chunkBits)
      .groupBy("j", "chunk")
      .agg(collect_list(struct(col("id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) <= maxChunkFreq)
      .select(array_sort(col("ds")).as("ds"))
  }

  /** Each element of an id-sorted posting array `ds` with its 0-based
    * position: (ds, i, a).
    */
  private def positions(postings: DataFrame): DataFrame =
    postings.select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))

  /** The one windowed expansion: every element `a` paired with each of
    * its `maxB` nearest successors `b` in its bucket, `off` = how many
    * positions b follows a (1..maxB). A bucket of size m expands at most
    * m·maxB slots instead of m²/2, so the cost is linear in the index at
    * any duplicate density.
    */
  private def windowPairs(postings: DataFrame, maxB: Int): DataFrame = {
    require(maxB >= 1, s"budget window must be >= 1: $maxB")
    positions(postings)
      .select(col("a"),
        posexplode(slice(col("ds"), col("i") + lit(2), lit(maxB)))
          .as(Seq("k", "b")))
      .select(col("a"), col("b"), (col("k") + lit(1)).cast("long").as("off"))
  }

  /** `min(off)` per pair as the `min_off` column, tagged with the window
    * `maxB` it was expanded at: budgets above it are unanswerable from
    * this frame, and [[budgetedPairs]]/[[budgetCurve]] refuse them.
    */
  private def minOff(maxB: Int): Column =
    min(col("off")).as("min_off",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("window", maxB).build())

  private def requireWithinWindow(minOffs: DataFrame,
      budgets: Seq[Int]): Unit = {
    val window = minOffs.schema("min_off").metadata.getLong("window")
    require(budgets.nonEmpty && budgets.forall(b => b >= 1 && b <= window),
      s"budgets must be in 1..$window (the min-offset window): $budgets")
  }

  /** The prefix-filter generator's min-offset frame: the windowed
    * expansion of `buckets` at `maxB`, the length-ratio gate, `min(off)`
    * per pair, then ONE exact-intersection verify that carries min_off
    * through. Output: (id_a, id_b, inter, jaccard, min_off). QueriesDedup
    * persists it at maxB = 8 as the `dedup.budget_pairs` shared frame,
    * read by both d29 (B = 2) and d32 (the curve).
    */
  def prefixVerifiedMinOff(e: DataFrame, buckets: DataFrame,
      tNum: Int, tDen: Int, maxB: Int): DataFrame =
    verifyJaccardPairs(
      windowPairs(buckets, maxB).filter(lengthRatioOk(tNum, tDen))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(minOff(maxB)),
      e, tNum, tDen)

  /** The SimHash generator's min-offset frame over [[simhashPostings]]:
    * the windowed expansion at `maxB`, the exact hamming gate, `min(off)`
    * per pair. Output: (id_a, id_b, hamming, min_off).
    */
  def simhashMinOff(postings: DataFrame, maxHamming: Int,
      maxB: Int): DataFrame =
    windowPairs(postings, maxB)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), pairHamming,
        col("off"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b", "hamming").agg(minOff(maxB))

  /** Dropped pair slots per doc at budget B, summed over its buckets:
    * successors beyond the window plus predecessors whose window ends
    * before it, so trunc = 0 ⟺ that doc's within-bucket pair list is
    * exhaustive. Output: (id, trunc).
    */
  private def truncCounts(postings: DataFrame, budget: Int): DataFrame =
    positions(postings)
      .select(col("a.id").as("id"),
        (greatest(size(col("ds")) - col("i") - lit(1) - lit(budget),
          lit(0)) +
          greatest(col("i") - lit(budget), lit(0)))
          .cast("long").as("dropped"))
      .groupBy("id").agg(sum(col("dropped")).as("trunc"))

  /** The pairs a generator emits under budget B (the 100 TB scale valve):
    * each doc pairs only with its B immediate successors in each
    * bucket's id order, so output and expansion cost are linear in the
    * index at ANY duplicate density, where the unbounded form goes
    * quadratic on clone cliques (sf1: 32.2 M pairs from d5's buckets).
    * `minOffs` is the generator's min-offset frame
    * ([[prefixVerifiedMinOff]], [[simhashMinOff]]) over `postings`, built
    * at a window ≥ B; a pair survives iff min_off ≤ B.
    *
    * The cut is LOUD, never silent: every pair carries `trunc_a`/
    * `trunc_b` — the pair slots dropped around each endpoint across all
    * its buckets, counting BOTH dropped successors (slots this element
    * did not emit) and dropped predecessors (elements that did not emit
    * to it), so trunc = 0 ⟺ that doc's within-bucket pair list is
    * exhaustive (successor-only counting let a tail doc in a saturated
    * bucket read 0 while missing pairs to truncated predecessors).
    * Connectivity degrades gracefully: consecutive-successor windows keep
    * every same-bucket clique connected as a chain (B ≥ 1), so
    * connected-components clustering still finds the clique — what's
    * lost is individual pair rows, not cluster membership. The window
    * applies BEFORE the generator's gates (slots are positional), and
    * the unbounded form stays the exactness oracle at sf ≤ 0.01.
    *
    * Output: the min-offset frame's columns without min_off, then
    * trunc_a, trunc_b.
    */
  def budgetedPairs(minOffs: DataFrame, postings: DataFrame,
      budget: Int): DataFrame = {
    requireWithinWindow(minOffs, Seq(budget))
    val trunc = truncCounts(postings, budget)
    val pairCols = minOffs.columns.filterNot(_ == "min_off").map(col).toSeq
    minOffs.filter(col("min_off") <= budget)
      .join(trunc.select(col("id").as("id_a"), col("trunc").as("trunc_a")),
        Seq("id_a"))
      .join(trunc.select(col("id").as("id_b"), col("trunc").as("trunc_b")),
        Seq("id_b"))
      .select(pairCols ++ Seq(col("trunc_a"), col("trunc_b")): _*)
  }

  /** The budget operating curve (the d27 discipline: measure the knob
    * before trusting it). For each budget B in `budgets`, off ONE
    * min-offset frame built at a window ≥ max(budgets):
    *  - `pairs_kept`   — pairs surviving budget B (min_off ≤ B), equal
    *    to [[budgetedPairs]]' row count at B;
    *  - `slots_dropped` — generation slots cut before the gates (the
    *    emission saved);
    *  - `docs_truncated` — docs with at least one cut slot (the blast
    *    radius of the approximation).
    * One row per budget, zero-filled when nothing is kept or cut.
    */
  def budgetCurve(minOffs: DataFrame, postings: DataFrame,
      budgets: Seq[Int]): DataFrame = {
    requireWithinWindow(minOffs, budgets)
    val spark = postings.sparkSession
    val slots = positions(postings)
      .select(col("a.id").as("id"),
        (size(col("ds")) - col("i") - lit(1)).cast("long").as("n_succ"))
    // the budget dimension: a bounded literal frame (|budgets| rows),
    // broadcast into both accounting joins
    val bdf = budgets.sorted.map(b =>
        spark.range(1).select(lit(b.toLong).as("budget")))
      .reduce(_ unionAll _)
    val kept = minOffs.crossJoin(broadcast(bdf))
      .filter(col("min_off") <= col("budget"))
      .groupBy("budget").agg(count(lit(1)).as("pairs_kept"))
    val cut = slots.crossJoin(broadcast(bdf))
      .groupBy("budget").agg(
        sum(greatest(col("n_succ") - col("budget"), lit(0L)))
          .as("slots_dropped"),
        count_distinct(when(col("n_succ") > col("budget"), col("id")))
          .as("docs_truncated"))
    bdf.join(kept, Seq("budget"), "left").join(cut, Seq("budget"), "left")
      .select(col("budget"),
        coalesce(col("pairs_kept"), lit(0L)).as("pairs_kept"),
        coalesce(col("slots_dropped"), lit(0L)).as("slots_dropped"),
        coalesce(col("docs_truncated"), lit(0L)).as("docs_truncated"))
  }
}
