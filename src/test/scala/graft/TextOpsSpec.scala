package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("r")).collect()(0).getAs[T]("r")

  test("tokens drops empties from repeated/leading whitespace") {
    val t = Seq("  a  b\tc ").toDF("text")
      .select(TextOps.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()(0)
    assert(t == Seq("a", "b", "c"))
    assert(one[Long](TextOps.tokenCount(col("text")), "") == 0L)
  }

  test("subTokens segments letter/digit/symbol runs") {
    val t = Seq("ab 12 c-d").toDF("text")
      .select(TextOps.subTokens(col("text")).as("t"))
      .as[Seq[String]].collect()(0)
    assert(t == Seq("ab", "12", "c", "-", "d"))
  }

  test("langId picks the max-hit language with priority tie-break") {
    assert(one[String](TextOps.langId(TextOps.tokens(col("text"))),
      "the cat and the hat") == "en")
    assert(one[String](TextOps.langId(TextOps.tokens(col("text"))),
      "der hund ist und") == "de")
    // 'la' is in neither list; no hits anywhere -> undetermined
    assert(one[String](TextOps.langId(TextOps.tokens(col("text"))),
      "xyzzy plugh") == "und")
    // equal one-hit scores: priority order wins (en before fr)
    assert(one[String](TextOps.langId(TextOps.tokens(col("text"))),
      "the le") == "en")
  }

  test("punctRatio and qualityScore") {
    assert(one[Double](TextOps.punctRatio(col("text")), "a.b,") == 0.5)
    assert(one[Double](TextOps.punctRatio(col("text")), "") == 0.0)
    // 4 tokens, no punctuation -> 4/100 length credit
    assert(math.abs(one[Double](TextOps.qualityScore(col("text")),
      "a b c d") - 0.04) < 1e-12)
  }

  test("capDistinctTokens bounds the co-occurrence pair fan-out") {
    // one pathological document with 10k distinct tokens: the uncapped
    // in-row pair expansion would emit 10000·9999/2 ≈ 50M pairs into
    // the shuffle; the cap bounds it to cap·(cap-1)/2 regardless of
    // document length. This applies exactly the expression sequence
    // x16_cooccur_topk plans (cap → explode → explode → a < b).
    val cap = QueriesText.MaxCooccurTokens
    val doc = Seq((1L, (1 to 10000).map(i => f"tok$i%05d")))
      .toDF("doc_id", "dt")
    val capped = doc.select(col("doc_id"),
      TextOps.capDistinctTokens(col("dt"), cap).as("dt"))
    assert(capped.select(size(col("dt"))).collect()(0).getInt(0) == cap)
    val pairs = capped
      .select(col("dt"), explode(col("dt")).as("tok_a"))
      .select(col("tok_a"), explode(col("dt")).as("tok_b"))
      .filter(col("tok_a") < col("tok_b"))
    assert(pairs.count() == cap.toLong * (cap - 1) / 2)
    // short docs pass through complete (sorted — the deterministic
    // order the oracle's list_sort mirrors)
    val short = Seq(Tuple1(Seq("b", "a"))).toDF("dt")
      .select(TextOps.capDistinctTokens(col("dt"), cap).as("dt"))
      .as[Seq[String]].collect()(0)
    assert(short == Seq("a", "b"))
  }

  test("tokenChunks: stride-overlapped windows cover the doc exactly") {
    val toks = (1 to 100).map(i => f"t$i%03d")
    val out = Seq(Tuple1(toks)).toDF("toks")
      .select(explode(TextOps.tokenChunks(col("toks"), 64, 48)).as("c"))
      .select("c.chunk_idx", "c.start", "c.chunk")
      .as[(Long, Long, Seq[String])].collect().sortBy(_._1)
    // 100 tokens at stride 48 → starts 0, 48, 96 (every start < n)
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((0L, 0L), (1L, 48L), (2L, 96L)))
    assert(out(0)._3 == toks.slice(0, 64))
    assert(out(1)._3 == toks.slice(48, 100)) // tail-truncated to 52
    assert(out(2)._3 == toks.slice(96, 100)) // short tail chunk kept
    // consecutive chunks overlap by chunkSize - stride = 16 tokens
    assert(out(0)._3.takeRight(16) == out(1)._3.take(16))
    // every token is covered at least once
    assert(out.flatMap(_._3).distinct.sorted.toSeq == toks)
    // a one-token doc is a single one-token chunk
    val one = Seq(Tuple1(Seq("x"))).toDF("toks")
      .select(explode(TextOps.tokenChunks(col("toks"), 64, 48)).as("c"))
      .select("c.start", "c.chunk").as[(Long, Seq[String])].collect()
    assert(one.toSeq == Seq((0L, Seq("x"))))
  }

  test("chunk hashing surfaces shared-prefix boilerplate across docs") {
    // two docs share their first 80 tokens (a "license header") then
    // diverge; a third is unrelated. Chunk 0 (tokens 0-63) hashes
    // identically for the first two — the x18 aggregate's signal
    val header = (1 to 80).map(i => f"lic$i%03d")
    val docs = Seq(
      (1L, header ++ (1 to 40).map(i => s"apple$i")),
      (2L, header ++ (1 to 40).map(i => s"pear$i")),
      (3L, (1 to 120).map(i => s"other$i"))).toDF("doc_id", "toks")
    val hashes = docs
      .select(col("doc_id"),
        explode(TextOps.tokenChunks(col("toks"), 64, 48)).as("c"))
      .select(col("doc_id"), col("c.start"),
        TextOps.md5Prefix60(concat_ws(" ", col("c.chunk"))).as("h"))
      .as[(Long, Long, Long)].collect()
    val shared = hashes.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
    // exactly the aligned chunk-0 window is shared, nothing else
    assert(shared.size == 1)
    assert(shared.values.head.map(x => (x._1, x._2)).toSet ==
      Set((1L, 0L), (2L, 0L)))
  }

  test("rollingFingerprint is order-sensitive; md5Prefix60 is not") {
    val ab = one[Long](TextOps.rollingFingerprint(col("text")), "ab")
    assert(ab == 97L * 31 + 98) // (0*31+97)*31+98
    val ba = one[Long](TextOps.rollingFingerprint(col("text")), "ba")
    assert(ab != ba)
    // known value cross-checked against DuckDB md5 of 'abc'
    assert(one[Long](TextOps.md5Prefix60(col("text")), "abc") ==
      648541476951500027L)
  }

  test("x20 entropy: within [0, log2(k)], extremes hit exactly") {
    val out = SparkEntry.queries("x20_entropy")(spark, sf001).collect()
    assert(out.nonEmpty)
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    out.foreach { r =>
      val (n, k, h) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      // h is rounded to 6dp, so allow a half-step above the exact bound
      assert(h >= 0.0 && h <= lg2(k.toDouble) + 1e-6,
        s"entropy $h outside [0, log2($k)]")
      // constant doc -> exactly 0; all-distinct doc -> exactly log2(n)
      if (k == 1) assert(h == 0.0)
      if (k == n) assert(math.abs(h - lg2(n.toDouble)) < 1e-6)
    }
  }

  test("x19 posting lists are the first-by-id postings, bounded") {
    // output is exploded scalar (token, df, doc_id) rows; regroup to
    // recover each token's posting set
    val rows = SparkEntry.queries("x19_inverted_index")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    val byToken = rows.groupBy(_.getString(0))
    byToken.foreach { case (token, rs) =>
      val df = rs.head.getLong(1)
      assert(rs.forall(_.getLong(1) == df),
        s"df must be constant within token '$token'")
      val postings = rs.map(_.getLong(2)).toSeq.sorted
      assert(df >= QueriesText.MinDf)
      assert(postings.length == math.min(df, QueriesText.MaxPostings),
        s"postings must hold min(df, cap) ids for '$token'")
      assert(postings.distinct == postings, "postings must be distinct")
    }
    // the heap-kept ids must be the SMALLEST df ids, not an arbitrary
    // subset: cross-check one heavy token against the exact answer
    val (token, heavyRows) = byToken.maxBy(_._2.head.getLong(1))
    val all = QueriesDedup.docsWithTokens(spark, sf001)
      .select(explode(array_distinct(col("toks"))).as("t"), col("doc_id"))
      .filter(col("t") === token)
      .orderBy("doc_id")
      .limit(QueriesText.MaxPostings)
      .select("doc_id").as[Long].collect().toSeq
    assert(heavyRows.map(_.getLong(2)).toSeq.sorted == all,
      s"postings for '$token' must be the first ${QueriesText.MaxPostings}")
  }
}
