package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}

class CurationSpec extends SparkTestBase {
  import spark.implicits._

  test("redactPii replaces emails and phones, counts match") {
    val df = Seq(
      (1L, "write alice.smith+x@foo-bar.example.com or bob@a.io today"),
      (2L, "call +1-555-0042 and +1-555-9999 thanks"),
      (3L, "mixed u7@mail3.org and +1-555-0007 here"),
      (4L, "nothing to scrub @ all + none")
    ).toDF("id", "t")
    val out = df.select(col("id"),
      TextOps.matchCount(col("t"), TextOps.EmailRe).as("ne"),
      TextOps.matchCount(col("t"), TextOps.PhoneRe).as("np"),
      TextOps.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(1L).getLong(2) == 0)
    assert(out(1L).getString(3) == "write <EMAIL> or <EMAIL> today")
    assert(out(2L).getString(3) == "call <PHONE> and <PHONE> thanks")
    assert(out(3L).getString(3) == "mixed <EMAIL> and <PHONE> here")
    // a bare '@' / '+' must not match (the patterns need full structure)
    assert(out(4L).getLong(1) == 0 && out(4L).getLong(2) == 0)
    assert(out(4L).getString(3) == "nothing to scrub @ all + none")
  }

  test("normalizeText canonicalizes and is idempotent") {
    val df = Seq(
      "  Hello,   WORLD!! 42 ",
      "a--b..c",
      "", "   ", "already clean"
    ).toDF("t")
    val once = df.select(TextOps.normalizeText(col("t")).as("n"))
    assert(once.as[String].collect().toSeq ==
      Seq("hello world 42", "a b c", "", "", "already clean"))
    // idempotence: re-normalizing a normalized string changes nothing
    val twice = once.select(TextOps.normalizeText(col("n")).as("n2"),
      col("n"))
    assert(twice.filter(col("n2") =!= col("n")).isEmpty,
      "normalizeText must be idempotent")
  }

  test("decontaminate counts distinct shingle overlap, omits clean docs") {
    val train = Seq(
      (10L, Array(1L, 2L, 3L)), // hits 3 -> 1 overlap
      (11L, Array(4L, 5L)),     // clean
      (12L, Array(3L, 9L, 5L))  // hits 3 and 9 -> 2 overlaps
    ).toDF("doc_id", "sh")
    val test_ = Seq(
      (90L, Array(3L, 9L)),
      (91L, Array(9L, 77L)) // 9 appears in two test docs: still ONE hit
    ).toDF("doc_id", "sh")
    val got = DedupOps.decontaminate(train, test_, "doc_id", "sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 12L -> 2L))
  }

  test("x14 quality gate drops the bottom quartile per language") {
    val out = SparkEntry.queries("x14_quality_filter")(spark, sf0001)
      .groupBy("lang").agg(count(lit(1)).as("kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.sources.Tables.documents(spark, sf0001)
      .groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      // percent_rank >= 0.25 keeps rows with rank-1 >= ceil(0.25*(n-1))
      val expected = n - math.ceil(0.25 * (n - 1)).toLong
      assert(out.getOrElse(lang, 0L) == expected,
        s"lang $lang: kept ${out.getOrElse(lang, 0L)}, expected $expected of $n")
    }
  }

  test("x15 source cap: kept docs start under budget, every source kept") {
    val out = SparkEntry.queries("x15_source_cap")(spark, sf0001)
    val bySource = out.groupBy("source").agg(
      max(col("cum_before")).as("max_start"),
      min(col("cum_before")).as("min_start"),
      count(lit(1)).as("kept"))
      .collect()
    val nSources = graft.sources.Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(bySource.length == nSources,
      "every source must keep at least one doc (first doc starts at 0)")
    bySource.foreach { r =>
      assert(r.getLong(2) == 0L, "first admitted doc must start at 0")
      assert(r.getLong(1) < 1000L, "every kept doc must start under budget")
    }
  }
}
