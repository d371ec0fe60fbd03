package graft

import org.apache.spark.sql.functions._
import graft.operators.ProfileOps
import graft.operators.ProfileOps.ProfileCol

class ProfileOpsSpec extends SparkTestBase {

  test("profile reports exact stats per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 1.5),
      (2L, Some("a"), 2.5),
      (3L, None, 3.5),
      (3L, Some("b"), 100.25)
    ).toDF("id", "tag", "v")
    val out = ProfileOps.profile(df, Seq(
        ProfileCol("id", col("id").cast("string"), Some(col("id"))),
        ProfileCol("tag", col("tag"), None),
        ProfileCol("v", floor(col("v") * 100).cast("long").cast("string"),
          Some(col("v")))))
      .collect().map(r => r.getString(0) -> r).toMap
    // under-k regime: distinct_est is EXACT (nulls excluded)
    val id = out("id")
    assert(id.getLong(1) == 4L && id.getLong(2) == 0L)
    assert(id.getDouble(3) == 3.0)
    assert(id.getDouble(4) == 1.0 && id.getDouble(5) == 3.0)
    val tag = out("tag")
    assert(tag.getLong(2) == 1L, "one null tag")
    assert(tag.getDouble(3) == 2.0, "distinct non-null tags")
    assert(tag.isNullAt(4) && tag.isNullAt(5), "no range for strings")
    val v = out("v")
    assert(v.getDouble(3) == 4.0)
    assert(v.getDouble(4) == 1.5 && v.getDouble(5) == 100.25)
  }

  test("histogramFx buckets integers exactly, no clamp needed") {
    import spark.implicits._
    import graft.operators.ProfileOps
    // 0..9 into 5 buckets of width (9-0+1)/5 = 2: bucket = v div 2
    val out = ProfileOps.histogramFx(
        (0L to 9L).toDF("v"), col("v"), 5)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(out.toSeq == (0L to 4L).map(b =>
      (b, 2L, 2 * b, 2 * b + 1)))
    // degenerate: all-equal input lands in bucket 0; max value in the
    // top bucket (never buckets, the classic off-by-one)
    val one = ProfileOps.histogramFx(
      Seq(7L, 7L, 7L).toDF("v"), col("v"), 5).collect()
    assert(one.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 3L)))
    // empty input -> empty histogram, not a null-bucket row
    assert(ProfileOps.histogramFx(
      Seq.empty[Long].toDF("v"), col("v"), 5).count() == 0)
  }

  test("refIntegrity counts planted orphans and clean edges as zero") {
    import spark.implicits._
    val fact = Seq((1L, 10L), (2L, 10L), (3L, 99L)).toDF("id", "fk")
    val dim = Seq(10L, 20L).toDF("pk")
    val out = ProfileOps.refIntegrity(Seq(
        ("fact->dim", fact, col("fk"), dim, col("pk")),
        ("fact->fact", fact, col("id"), fact, col("id"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out("fact->dim") == (1L, 3L), "fk=99 is an orphan")
    assert(out("fact->fact") == (0L, 3L), "self edge is clean")
  }

  test("dq6 correlations: one row, valid range, independent generator") {
    val r = SparkEntry.queries("dq6_correlation")(spark, sf001)
      .collect()
    assert(r.length == 1)
    val n = r(0).getLong(0)
    assert(n == spark.read.parquet(s"$sf001/lineitem.parquet").count())
    val cors = (1 to 3).map(r(0).getDouble)
    cors.foreach(c => assert(c >= -1.0 && c <= 1.0,
      s"correlation $c outside [-1, 1]"))
    // the synthetic generator draws quantity, price, and discount
    // independently (unlike real TPC-H, where extendedprice is
    // quantity-derived) — the profile must REPORT that independence,
    // not manufacture structure
    cors.foreach(c => assert(math.abs(c) < 0.2,
      s"independent columns must correlate near zero, got $c"))
  }
}
