package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.RelationalOps
import graft.sources.Tables
import graft.storage.StatsCatalog

/** The ANALYZE catalog's contract: exact decision stats, roundtrip
  * persistence, fingerprint-guarded staleness with the measured
  * fallback, and decision parity between the catalog-driven and the
  * per-invocation-measured join planners.
  */
class CatalogStatsSpec extends SparkTestBase {

  private def ord = Tables.orders(spark, sf0001)
    .select("o_custkey", "o_totalprice")
  private def cust = Tables.customer(spark, sf0001)
    .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))

  test("analyze computes exact rows/max/skew and roundtrips") {
    val st = StatsCatalog.analyze(spark, sf0001, "orders", ord, "o_custkey")
    val expected = ord.groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .agg(max(col("n")), count(lit(1)), sum(col("n"))).collect()(0)
    val (mx, groups, tot) =
      (expected.getLong(0), expected.getLong(1), expected.getLong(2))
    assert(st.rows === tot)
    assert(st.maxKeyRows === mx)
    assert(st.skew === (mx * groups + tot - 1) / tot)
    // KMV is exact under k=4096 — sf0.001's key space is far smaller
    assert(st.ndv === groups)
    assert(StatsCatalog.read(sf0001, "orders", "o_custkey") === Some(st))
  }

  test("a torn/foreign entry reads as stale, not an exception") {
    StatsCatalog.analyze(spark, sf0001, "orders", ord, "o_custkey")
    val f = StatsCatalog.entryFile(sf0001, "orders", "o_custkey")
    // simulate a crash mid-write: a prefix of the entry survives
    Files.write(f.toPath,
      "fp=deadbeef\nrows=42\n".getBytes(StandardCharsets.UTF_8))
    assert(StatsCatalog.read(sf0001, "orders", "o_custkey") === None,
      "unparseable entries must fall back to re-ANALYZE, not throw")
    // the fallback self-heals the entry
    val r = StatsCatalog.readOrAnalyze(spark, sf0001, "orders", ord,
      "o_custkey")
    assert(r.source === "analyzed")
    assert(StatsCatalog.read(sf0001, "orders", "o_custkey")
      === Some(r.stats))
  }

  test("stale fingerprint is detected and re-analyzed, then cached") {
    StatsCatalog.analyze(spark, sf0001, "customer", cust, "o_custkey")
    val f = StatsCatalog.entryFile(sf0001, "customer", "o_custkey")
    val body = new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)
      .replaceFirst("fp=\\S+", "fp=deadbeef")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    assert(StatsCatalog.read(sf0001, "customer", "o_custkey").isEmpty,
      "a stale fingerprint must not serve stats")
    val r1 = StatsCatalog.readOrAnalyze(spark, sf0001, "customer", cust,
      "o_custkey")
    assert(r1.source === "analyzed") // the fallback arm re-measured
    val r2 = StatsCatalog.readOrAnalyze(spark, sf0001, "customer", cust,
      "o_custkey")
    assert(r2.source === "catalog" && r2.stats === r1.stats)
  }

  test("decision parity: catalog planner agrees with the measured one") {
    val (measured, _) =
      RelationalOps.costGuardedJoin(ord, cust, Seq("o_custkey"))
    val (fromCatalog, src, (rightRows, skew), joined) =
      RelationalOps.costGuardedJoinFromCatalog(spark, sf0001,
        ord, "orders", "o_custkey", cust, "customer", "o_custkey",
        Seq("o_custkey"))
    assert(fromCatalog === measured)
    assert(src === "catalog") // warm from the tests above
    assert(rightRows === cust.count())
    assert(skew >= 1L)
    // strategy-invariant result: same as the plain join
    assert(joined.count() === ord.join(cust, "o_custkey").count())
  }

  test("catalog decision flips with the estimates (policy, not data)") {
    // thresholds are parameters — tighten them to force each arm
    val (s1, _, _, _) = RelationalOps.costGuardedJoinFromCatalog(spark,
      sf0001, ord, "orders", "o_custkey", cust, "customer", "o_custkey",
      Seq("o_custkey"), broadcastMaxRows = 1L, skewThreshold = 1000000L)
    assert(s1 === "shuffle")
    val (s2, _, _, joined) = RelationalOps.costGuardedJoinFromCatalog(
      spark, sf0001, ord, "orders", "o_custkey", cust, "customer",
      "o_custkey", Seq("o_custkey"), broadcastMaxRows = 1L,
      skewThreshold = 1L)
    assert(s2 === "salted")
    assert(joined.count() === ord.join(cust, "o_custkey").count())
  }

  test("commit-triggered ANALYZE: stats ride the commit; a skewed " +
    "append flips the join decision") {
    import graft.storage.CommitLog
    import spark.implicits._
    withTempDir("graft_cta") { tmp =>
      val t = tmp.getAbsolutePath
      def stage(rel: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.parquet(s"${CommitLog.dataDir(t)}/$rel")
      // v1: uniform keys → skew 1 → a large-right join plans "shuffle"
      stage("f1", (1L to 2000L).toDF("k"))
      CommitLog.commitAndAnalyze(spark, t, Seq("f1"), Nil, 0L, "k")
      val st1 = StatsCatalog.readTable(t, "k")
      assert(st1.isDefined && st1.get.fingerprint === "v1")
      assert(st1.get.rows === 2000L && st1.get.skew === 1L)
      assert(RelationalOps.chooseJoinStrategy(
        rightRows = 2000000L, skewFactor = st1.get.skew) === "shuffle")
      // a plain commit WITHOUT the refresh leaves the entry stale — the
      // catalog must say so (None), never serve pre-append stats
      stage("f2", (2001L to 2100L).toDF("k"))
      CommitLog.commit(t, Seq("f2"), Nil, 1L)
      assert(StatsCatalog.readTable(t, "k").isEmpty)
      // ...and the fallback re-ANALYZE self-heals against the new head
      val healed = StatsCatalog.readOrAnalyzeTable(spark, t, "k")
      assert(healed.source === "analyzed" && healed.stats.rows === 2100L)
      assert(StatsCatalog.readTable(t, "k").exists(_.fingerprint === "v2"))
      // v3: a HOT-KEY append lands WITH the refresh — the very next
      // catalog read carries the skew and the decision flips to salted
      stage("f3", Seq.fill(4000)(7L).toDF("k"))
      CommitLog.commitAndAnalyze(spark, t, Seq("f3"), Nil, 2L, "k")
      val st3 = StatsCatalog.readTable(t, "k")
      assert(st3.isDefined && st3.get.fingerprint === "v3")
      assert(st3.get.maxKeyRows === 4001L) // key 7's v1 row + 4000 appended
      assert(st3.get.skew >= 4L, s"skew ${st3.get.skew}")
      assert(RelationalOps.chooseJoinStrategy(
        rightRows = 2000000L, skewFactor = st3.get.skew) === "salted")
    }
  }
}
