package graft


/** Hand-computed pins for d25_dup_spans (cross-document maximal
  * duplicate-span extraction, K=5-gram index, min span 8 tokens).
  * The fixture exercises: one long span (pair 1-2), TWO disjoint
  * spans on different diagonals within one pair (1-4), a span whose
  * occurrences sit at different offsets in each doc (2-4), and
  * 7-token overlaps that must be filtered by the L=8 floor (doc 3
  * against everything, plus the 6-token 2-4 side overlap).
  */
class DupSpansSpec extends SparkTestBase {
  test("d25 extracts exactly the hand-computed maximal spans") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: the 12-token base sequence a..l
      (1L, "a b c d e f g h i j k l"),
      // doc 2: a..j (10 tokens) embedded at offset 2
      (2L, "x1 x2 a b c d e f g h i j y1"),
      // doc 3: only a 7-token prefix overlap -> below the L=8 floor
      (3L, "a b c d e f g z1 z2 z3 z4 z5"),
      // doc 4: a..h at offset 0, then a gap, then e..l at offset 10
      (4L, "a b c d e f g h q1 q2 e f g h i j k l"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'unit' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    withTempDir("graft_d25") { dir =>
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("d25_dup_spans")(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == Set(
        (1L, 2L, 0L, 2L, 10L),  // a..j, one island on diag -2
        (1L, 4L, 0L, 0L, 8L),   // a..h, diag 0
        (1L, 4L, 4L, 10L, 8L),  // e..l, diag -6 (second island, same pair)
        (2L, 4L, 2L, 0L, 8L)),  // a..h at different offsets
        s"got $got")
    }
  }
}
