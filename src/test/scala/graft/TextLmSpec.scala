package graft


/** Hand-computed pins for the round-13 text additions: x35 (BPE-style
  * merge training) and x36 (stupid-backoff trigram LM across a real
  * train/held-out source boundary).
  */
class TextLmSpec extends SparkTestBase {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val docs = rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    val dir = sharedTempDir("graft_textlm").toString
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("x35: merge sequence matches the hand-run BPE rounds") {
    // vocab: aaab x2, ab x3
    // r1 pairs: (a,a) 2*2=4, (a,b) 1*2+1*3=5      -> (a,b,5)
    //   merge: aaab -> [a,a,ab]; ab -> [ab]
    // r2 pairs: (a,a) 2, (a,ab) 2 — tie, (l,r) asc -> (a,a,2)
    //   merge: [a,a,ab] -> [aa,ab]
    // r3 pairs: (aa,ab) 2                          -> (aa,ab,2)
    //   merge: [aa,ab] -> [aaab]
    // r4..r6: no adjacent pairs remain -> no merge rows (the argmax
    // frame is empty; the NULL-sentinel no-op merge preserves the
    // vocab for x37's encode — identical exhaustion semantics on the
    // oracle side)
    val dir = writeDocs(Seq((1L, "aaab aaab ab ab ab", "unit")))
    val got = SparkEntry.queries("x35_bpe_merges")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, "a", "b", 5L),
      (2L, "a", "a", 2L),
      (3L, "aa", "ab", 2L)), s"got $got")
  }

  test("x36: backoff chain fires at every level, hand-computed") {
    // train source "a" — both sources have 3 docs, so the (docs desc,
    // source asc) tiebreak fires and picks "a" (exercising the pinned
    // tiebreak path). Model from docs 1-3:
    //   c1: x3 y3 z3 q1 r1 -> N=11, V=5
    //   c2: (x,y)3 (y,z)3 (z,x)1 (q,r)1
    //   c3: (x,y,z)3 (y,z,x)1 (z,x,y)1
    val dir = writeDocs(Seq(
      (1L, "x y z x y z", "a"),
      (2L, "x y z", "a"),
      (3L, "q r", "a"),
      // doc 100: (x,y,z) model hit S=3/3; (y,z,w) full backoff to
      // the +1-laplace unigram floor: 0.16 * (0+1)/(11+5) = 0.01
      (100L, "x y z w", "z"),
      // doc 101: (z,x,q) laplace on q: 0.16 * (1+1)/16 = 0.02;
      // (x,q,r) bigram-level backoff: 0.4 * c2(q,r)/c1(q) = 0.4
      (101L, "z x q r", "z"),
      // doc 102: under 3 tokens -> not scored
      (102L, "just two", "z")))

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val got = SparkEntry.queries("x36_backoff_lm")(spark, dir)
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(100L, 101L), s"got ${got.keySet}")
    assert(got(100L) ==
      ((2L, 0.5, r6(-(r9(math.log(1.0)) + r9(math.log(0.01))) / 2))),
      s"got ${got(100L)}")
    assert(got(101L) ==
      ((2L, 1.0, r6(-(r9(math.log(0.02)) + r9(math.log(0.4))) / 2))),
      s"got ${got(101L)}")
  }

  test("x37: encode under the trained merges, exhaustion-safe") {
    // same corpus as x35: merges exhaust after round 3 with the final
    // vocab aaab -> [aaab], ab -> [ab] (each word one token). The
    // sentinel no-op rounds 4-6 must PRESERVE that vocab — before the
    // guard, the empty cross join would have emptied it and the
    // encode would return zero rows.
    val dir = writeDocs(Seq((1L, "aaab aaab ab ab ab", "unit")))
    val got = SparkEntry.queries("x37_bpe_encode")(spark, dir).collect()
    assert(got.length == 1, s"one source row, got ${got.length}")
    val r = got.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5)) ==
      (("unit", 5L, 14L, 5L, 1.0, 2.8)), s"got $r")
    // x35's rounds table is unaffected by the sentinel: still exactly
    // the 3 real merges, no NULL row
    val merges = SparkEntry.queries("x35_bpe_merges")(spark, dir)
      .collect()
    assert(merges.length == 3 && merges.forall(!_.isNullAt(1)))
  }

  test("x37: mid-word merges count subword tokens, per source") {
    // two sources over one vocab: 6 rounds on "abab"/"cd" merge all
    // the way to single tokens for both words; "xy" appears once per
    // source and also fuses. Hand-run: freq(abab)=3, (cd)=2, (xy)=2
    //   r1 (a,b,6) r2 (ab,ab,3) r3 (c,d,2) r4 (x,y,2) r5/r6 no-op
    // final: abab->[abab] 1 tok, cd->[cd] 1 tok, xy->[xy] 1 tok
    val dir = writeDocs(Seq(
      (1L, "abab abab cd xy", "s1"),
      (2L, "abab cd xy", "s2")))
    val got = SparkEntry.queries("x37_bpe_encode")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // s1: words abab,abab,cd,xy -> 4 words, 4+4+2+2=12 chars, 4 toks
    assert(got("s1") == ((4L, 12L, 4L, 1.0, 3.0)), s"got ${got("s1")}")
    // s2: abab,cd,xy -> 3 words, 8 chars, 3 toks; 8/3 rounds to 6dp
    assert(got("s2") == ((3L, 8L, 3L, 1.0, 2.666667)), s"got ${got("s2")}")
  }

  test("x38: waterfill saturates the small source, caps the big one") {
    // big: 2 docs, 100 tokens (r=50); small: 2 docs, 8 tokens (r=4).
    // B = 108/2 = 54. k=0: λ=54/4=13.5 invalid (r₁=4 ≤ 13.5 means
    // small WOULD saturate). k=1 (small saturated):
    // λ = (54−8)/2 = 23 with 4 ≤ 23 < 50 ✓ — so small takes all 8,
    // big caps at 23·2 = 46.
    val big1 = (1 to 60).map(i => s"t$i").mkString(" ")
    val big2 = (1 to 40).map(i => s"u$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, big1, "big"), (2L, big2, "big"),
      (3L, "a b c d", "small"), (4L, "e f g h", "small")))
    val got = SparkEntry.queries("x38_token_budget")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    assert(got("small") == ((2L, 8L, 54L, 23.0, 8.0, 1L)),
      s"got ${got("small")}")
    assert(got("big") == ((2L, 100L, 54L, 23.0, 46.0, 0L)),
      s"got ${got("big")}")
  }
}
