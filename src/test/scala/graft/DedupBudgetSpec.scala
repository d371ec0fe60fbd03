package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}

/** Properties of the bounded-emission pair generators (the 100 TB
  * valve on d5/d17): the budget arm must be a LOUD, connectivity-
  * preserving subset of the unbounded form — never a silently
  * different pair list.
  */
class DedupBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val realDocs = spark.read
    .parquet(s"$sf001/documents.parquet").limit(400)
    .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  private lazy val realSims =
    DedupOps.simhash(realDocs, "doc_id", col("toks"))

  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), DedupOps.shingleHashes(col("toks"), 3).as("sh"))

  private lazy val realShingles = shingled(realDocs)

  // 6 identical docs: every chunk bucket is a 6-clique — the
  // adversarial duplicate-density case the budget exists for
  private lazy val cliqueDocs = (1L to 6L)
    .map(i => (i, "the quick brown fox jumps over the lazy dog"))
    .toDF("doc_id", "text")
    .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  /** (min-offset frame at window `maxB`, postings) of each generator,
    * composed as QueriesDedup composes d28/d30 and d29/d32/d33.
    */
  private def simhashFrames(sims: DataFrame, maxB: Int) = {
    val postings = DedupOps.simhashPostings(sims, maxHamming = 3)
    (DedupOps.simhashMinOff(postings, maxHamming = 3, maxB), postings)
  }

  private def prefixFrames(sh: DataFrame, maxB: Int) = {
    val (e, buckets) = DedupOps.prefixBuckets(sh, "doc_id", "sh", 7, 10, 1000L)
    (DedupOps.prefixVerifiedMinOff(e, buckets, 7, 10, maxB), buckets)
  }

  private def budgeted(frames: (DataFrame, DataFrame), b: Int): DataFrame =
    DedupOps.budgetedPairs(frames._1, frames._2, b)

  private def curve(frames: (DataFrame, DataFrame),
      budgets: Seq[Int]): Seq[(Long, Long, Long, Long)] =
    DedupOps.budgetCurve(frames._1, frames._2, budgets)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)

  test("simhash budget arm is a subset; huge budget recovers the exact set") {
    val full = DedupOps.simhashPairs(realSims, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val budgetedRows = budgeted(simhashFrames(realSims, 2), 2)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(budgetedRows.map(t => (t._1, t._2, t._3)).toSet.subsetOf(full))
    // a budget wider than any bucket = the unbounded generator,
    // and every truncation counter reads 0
    val wideFrames = simhashFrames(realSims, 10000)
    val wide = budgeted(wideFrames, 10000)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(wide.map(t => (t._1, t._2, t._3)).toSet == full)
    assert(wide.forall(t => t._4 == 0L && t._5 == 0L))
    assert(curve(wideFrames, Seq(10000)) == Seq((10000L, full.size.toLong, 0L, 0L)))
  }

  test("prefix budget arm is a subset; huge budget recovers the exact set") {
    val full = DedupOps
      .prefixFilterPairs(realShingles, "doc_id", "sh", 7, 10)
      .as[(Long, Long, Long, Double)].collect().toSet
    val budgetedRows = budgeted(prefixFrames(realShingles, 2), 2)
      .as[(Long, Long, Long, Double, Long, Long)].collect()
    assert(budgetedRows.map(t => (t._1, t._2, t._3, t._4)).toSet.subsetOf(full))
    val wideFrames = prefixFrames(realShingles, 10000)
    val wide = budgeted(wideFrames, 10000)
      .as[(Long, Long, Long, Double, Long, Long)].collect()
    assert(wide.map(t => (t._1, t._2, t._3, t._4)).toSet == full)
    assert(wide.forall(t => t._5 == 0L && t._6 == 0L))
    assert(curve(wideFrames, Seq(10000)) == Seq((10000L, full.size.toLong, 0L, 0L)))
  }

  test("B=1 on a clone clique: chain connectivity, loud truncation") {
    val sims = DedupOps.simhash(cliqueDocs, "doc_id", col("toks"))
    val pairs = budgeted(simhashFrames(sims, 1), 1)
    val rows = pairs.as[(Long, Long, Long, Long, Long)].collect()
    // identical fingerprints sort by id in every bucket, so B=1 emits
    // exactly the 5 consecutive pairs — not the 15 of the 6-clique
    assert(rows.map(t => (t._1, t._2)).toSet ==
      (1L to 5L).map(i => (i, i + 1)).toSet)
    // the cut is loud: doc 1 heads every bucket and drops 4 successor
    // slots per chunk (6-1-1) × 4 chunks = 16 (no predecessors)
    val trunc1 = rows.filter(_._1 == 1L).map(_._4).head
    assert(trunc1 == 16L)
    // ADVICE r14 (the tail-doc case): pair (5,6) survives at B=1, and
    // BOTH endpoints must read nonzero — each is missing pairs to
    // truncated predecessors even though neither dropped a successor
    // there. Per chunk: doc 5 (0-based i=4) drops max(4-4,0) succ +
    // max(4-1,0) pred = 3; doc 6 (i=5) drops 0 + 4. × 4 chunks.
    val p56 = rows.find(t => t._1 == 5L && t._2 == 6L).get
    assert(p56._4 == 12L && p56._5 == 16L)
    // trunc = 0 ⟺ exhaustive: in a saturated clique at B=1, NO doc's
    // pair list is exhaustive, so no counter may read 0
    assert(rows.forall(t => t._4 > 0L && t._5 > 0L))
    // and the clique still clusters as ONE component downstream
    val comps = DedupOps
      .connectedComponents(pairs, "id_a", "id_b")
      .select(col("cluster")).distinct().as[Long].collect()
    assert(comps.toSeq == Seq(1L))
  }

  test("dedup-first pairing: clones collapse, keepers pair with lineage") {
    // 6 exact clones of A (ids 1-6) + one near-dup B (id 7, last of
    // 30 tokens differs: 28 shingles each, the final shingle diverges
    // -> 27 shared over a 29-shingle union)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val docs = ((1L to 6L).map(i => (i, base)) :+ (7L, near))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val rows = QueriesDedup.dedupFirstPairs(docs)
      .as[(Long, Long, Double, Long, Long)].collect()
    // exactly one pair: keeper 1 (representing 6 raw docs) vs 7
    assert(rows.toSeq == Seq((1L, 7L,
      BigDecimal(27.0 / 29.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 6L, 1L)))
  }

  // ---- model-based reference for the window semantics ---------------

  /** Ragged buckets (sizes 1, 2, 3 and 9; listed out of id order) with
    * docs 1, 3 and 8 shared across buckets, so a pair's min_off is a
    * minimum over several buckets.
    */
  private val modelBuckets: Seq[Seq[Long]] = Seq(Seq(5L), Seq(12L, 3L),
    Seq(8L, 1L, 3L), Seq(10L, 1L, 4L, 9L, 2L, 6L, 8L, 3L, 7L))

  /** Per-doc shingle sets (prefix generator): near-copies of 1..10,
    * one failing the Jaccard gate (4), one failing the length ratio
    * (6), a disjoint one (9) and a weak overlap (10).
    */
  private val modelSets: Map[Long, Set[Long]] = Map(
    1L -> (1L to 10L).toSet, 2L -> ((1L to 9L).toSet + 11L),
    3L -> (1L to 10L).toSet, 4L -> ((1L to 8L).toSet ++ Set(12L, 13L)),
    5L -> (1L to 10L).toSet, 6L -> (1L to 20L).toSet,
    7L -> (1L to 9L).toSet, 8L -> (1L to 10L).toSet,
    9L -> (21L to 30L).toSet, 10L -> ((1L to 7L).toSet ++ Set(31L, 32L, 33L)),
    12L -> (1L to 11L).toSet)

  /** Per-doc fingerprints (simhash generator): hamming ≤ 3 among most
    * of the low-bit docs, far for 4, 7 and 10.
    */
  private val modelSims: Map[Long, Long] = Map(1L -> 0L, 2L -> 7L, 3L -> 1L,
    4L -> 0xF0L, 5L -> 0L, 6L -> 0x800L, 7L -> 0xFFFFL, 8L -> 2L,
    9L -> 0xCL, 10L -> 0xFF00L, 12L -> 4L)

  private def hamming(a: Long, b: Long): Long =
    java.lang.Long.bitCount(modelSims(a) ^ modelSims(b)).toLong

  private def inter(a: Long, b: Long): Long =
    (modelSets(a) intersect modelSets(b)).size.toLong

  /** The prefix generator's pair gates, in its exact integers. */
  private def prefixKeeps(a: Long, b: Long): Boolean = {
    val (na, nb) = (modelSets(a).size, modelSets(b).size)
    na * 10 >= nb * 7 && nb * 10 >= na * 7 && inter(a, b) * 17 >= (na + nb) * 7
  }

  /** Every (a, b) each bucket places within `window` positions and
    * `keep` admits, with the smallest such offset over all buckets.
    */
  private def modelMinOff(window: Int,
      keep: (Long, Long) => Boolean): Map[(Long, Long), Long] =
    modelBuckets.flatMap { bucket =>
      val ids = bucket.sorted
      for (i <- ids.indices; j <- ids.indices
           if j > i && j - i <= window && keep(ids(i), ids(j)))
        yield (ids(i), ids(j)) -> (j - i).toLong
    }.groupBy(_._1).map { case (p, offs) => p -> offs.map(_._2).min }

  /** Per doc: bucket partners (either side) farther than `b` away. */
  private def modelTrunc(b: Int): Map[Long, Long] =
    modelBuckets.flatMap { bucket =>
      val ids = bucket.sorted
      ids.indices.map(i => ids(i) -> ids.indices.count(j => (j - i).abs > b).toLong)
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }

  /** (budget, pairs_kept, slots_dropped, docs_truncated) by enumeration. */
  private def modelCurve(b: Int, minOff: Map[(Long, Long), Long]) = {
    val cut = modelBuckets.flatMap { bucket =>
      val ids = bucket.sorted
      for (i <- ids.indices; j <- ids.indices if j - i > b) yield ids(i)
    }
    (b.toLong, minOff.count(_._2 <= b).toLong, cut.size.toLong,
      cut.distinct.size.toLong)
  }

  private lazy val modelMembers = modelBuckets.zipWithIndex
    .flatMap { case (ids, k) => ids.map(id => (k, id)) }
    .toDF("bucket", "id")

  /** Posting arrays built the way the generators build theirs. */
  private def modelPostings(payload: DataFrame): DataFrame = modelMembers
    .join(payload, "id").groupBy("bucket")
    .agg(array_sort(collect_list(struct(payload.columns.map(col): _*)))
      .as("ds"))
    .select("ds")

  test("both generators match a driver-side model of the window") {
    val simPostings = modelPostings(modelSims.toSeq.toDF("id", "simhash"))
    val prefixBuckets = modelPostings(modelSets.toSeq
      .map { case (id, ss) => (id, ss.size.toLong) }.toDF("id", "n"))
    val e = modelSets.toSeq.flatMap { case (id, ss) =>
      ss.toSeq.map(s => (id, ss.size.toLong, s)) }.toDF("id", "n", "s")
    def jaccard(a: Long, b: Long): Double = {
      val (na, nb, i) = (modelSets(a).size, modelSets(b).size, inter(a, b))
      BigDecimal(i.toDouble / (na + nb - i)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def simMinOff(w: Int) = DedupOps.simhashMinOff(simPostings, 3, w)
    def preMinOff(w: Int) = DedupOps.prefixVerifiedMinOff(e, prefixBuckets, 7, 10, w)
    val sim8 = simMinOff(8)
    val pre8 = preMinOff(8)
    for (b <- Seq(1, 2, 8)) {
      val trunc = modelTrunc(b)
      val simModel = modelMinOff(b, (x, y) => hamming(x, y) <= 3)
      val preModel = modelMinOff(b, prefixKeeps)
      // the fixture cuts something below its widest bucket's span (8)
      assert(simModel.nonEmpty && preModel.nonEmpty &&
        trunc.values.exists(_ > 0) == (b < 8))
      // the min-offset frame expanded at window b, per-pair min_off
      assert(simMinOff(b).as[(Long, Long, Long, Long)].collect().toSet ==
        simModel.map { case ((x, y), o) => (x, y, hamming(x, y), o) }.toSet,
        s"simhash min_off at window $b")
      assert(preMinOff(b).as[(Long, Long, Long, Double, Long)].collect().toSet ==
        preModel.map { case ((x, y), o) => (x, y, inter(x, y), jaccard(x, y), o) }
          .toSet, s"prefix min_off at window $b")
      // budgeted pairs at b, read off the window-8 frame: the pair set
      // and both trunc counters
      assert(DedupOps.budgetedPairs(sim8, simPostings, b)
        .as[(Long, Long, Long, Long, Long)].collect().toSet ==
        simModel.keySet.map { case (x, y) =>
          (x, y, hamming(x, y), trunc(x), trunc(y)) }, s"simhash B=$b")
      assert(DedupOps.budgetedPairs(pre8, prefixBuckets, b)
        .as[(Long, Long, Long, Double, Long, Long)].collect().toSet ==
        preModel.keySet.map { case (x, y) =>
          (x, y, inter(x, y), jaccard(x, y), trunc(x), trunc(y)) },
        s"prefix B=$b")
    }
    val budgets = Seq(1, 2, 8)
    assert(curve((sim8, simPostings), budgets) == budgets.map(b =>
      modelCurve(b, modelMinOff(8, (x, y) => hamming(x, y) <= 3))))
    assert(curve((pre8, prefixBuckets), budgets) == budgets.map(b =>
      modelCurve(b, modelMinOff(8, prefixKeeps))))
  }

  test("edge corpora: no pairs and one zero-filled curve row per budget") {
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    def sims(d: DataFrame) = DedupOps.simhash(d, "doc_id", col("toks"))
    val empty = docs(Nil)
    val one = docs(Seq(1L -> "the quick brown fox jumps over the lazy dog"))
    // disjoint vocabularies: every prefix shingle has df 1; fingerprints
    // whose four 15-bit chunks all equal the doc id
    val apart = docs((1L to 5L).map(i =>
      i -> (1 to 12).map(w => s"d${i}w$w").mkString(" ")))
    val apartSims = (1L to 5L)
      .map(i => (i, i | (i << 15) | (i << 30) | (i << 45)))
      .toDF("id", "simhash")
    val budgets = Seq(1, 2, 8)
    val zeros = budgets.map(b => (b.toLong, 0L, 0L, 0L))
    for ((name, d, s) <- Seq(("empty", empty, sims(empty)),
        ("one doc", one, sims(one)), ("singleton buckets", apart, apartSims));
        (gen, frames) <- Seq("simhash" -> simhashFrames(s, 8),
          "prefix" -> prefixFrames(shingled(d), 8))) {
      for (b <- budgets)
        assert(budgeted(frames, b).isEmpty, s"$gen / $name at B=$b")
      assert(curve(frames, budgets) == zeros, s"$gen / $name curve")
    }
  }

  test("a min-offset frame answers only budgets within its window") {
    val (minOffs, postings) = simhashFrames(realSims, 2)
    intercept[IllegalArgumentException](
      DedupOps.budgetedPairs(minOffs, postings, 3))
    intercept[IllegalArgumentException](
      DedupOps.budgetCurve(minOffs, postings, Seq(1, 4)))
    intercept[IllegalArgumentException](
      DedupOps.budgetedPairs(minOffs, postings, 0))
    // the window survives a session checkpoint (d29/d32 read one)
    assert(DedupOps.budgetedPairs(SessionMemo.retain(minOffs), postings, 2)
      .count() == DedupOps.budgetedPairs(minOffs, postings, 2).count())
  }

  test("prefix budget curve: monotone, consistent with the generator") {
    val curveRows = curve(prefixFrames(realShingles, 8), Seq(1, 2, 4, 8))
    assert(curveRows.map(_._1) == Seq(1L, 2L, 4L, 8L))
    assert(curveRows.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 >= b._3 && a._4 >= b._4 })
    // pairs_kept at B=2 equals the count of an independent expansion
    // windowed at 2
    val gen2 = budgeted(prefixFrames(realShingles, 2), 2).count()
    assert(curveRows.find(_._1 == 2L).get._2 == gen2)
  }

  test("budget curve: monotone, exact at the wide end, prices the cut") {
    val curveRows = curve(simhashFrames(realSims, 8), Seq(1, 2, 4, 8))
    assert(curveRows.map(_._1) == Seq(1L, 2L, 4L, 8L))
    // pairs kept grow with budget; slots dropped and docs touched shrink
    assert(curveRows.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 >= b._3 && a._4 >= b._4 })
    // every pair the B=8 curve admits is a real verified pair
    val full = DedupOps.simhashPairs(realSims, maxHamming = 3).count()
    assert(curveRows.last._2 <= full)
    // consistency with the generator: pairs_kept at B=2 equals the
    // budgeted arm's distinct pair count (an expansion windowed at 2)
    val gen2 = budgeted(simhashFrames(realSims, 2), 2).count()
    assert(curveRows.find(_._1 == 2L).get._2 == gen2)
  }
}
