package graft.storage

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style statistics catalog (VERDICT r15 #3): the planner-side
  * fix for j18's per-invocation `count()` pre-pass. A real CBO does
  * not count a 100 TB table per query — it reads persisted catalog
  * statistics collected ONCE by an ANALYZE job and amortized over
  * every subsequent plan. This catalog stores, per (dir, table, key):
  *
  *  - `rows` — exact row count;
  *  - `ndv` — distinct keys, estimated by the native KMV bottom-k
  *    aggregate (one pass, no shuffle of the key space — the sketch is
  *    a bounded buffer per partial; chosen over the raw-HLL aggregate
  *    because raw HLL without linear-counting saturates at ≈2954 on
  *    exactly the cardinalities the correctness scales exercise, while
  *    KMV is EXACT under k and ~1/√k above);
  *  - `maxKeyRows` — the hottest key's row count (dq5's diagnostic);
  *  - `skew` — the derivedSaltFactor ceil (max·groups ÷ total, exact
  *    integer), the number chooseJoinStrategy consumes;
  *  - the source-table fingerprint the stats were collected against.
  *
  * Staleness is a first-class outcome: [[read]] returns None when the
  * stored fingerprint no longer matches the source files, and
  * [[readOrAnalyze]] then falls back to re-measuring — the
  * stale-stats arm is pinned in CatalogStatsSpec. Entries are tiny
  * text files (catalog metadata is orders of magnitude smaller than
  * data — the stor3 economics applied to planning).
  */
object StatsCatalog {

  final case class TableStats(rows: Long, ndv: Long, maxKeyRows: Long,
      skew: Long, fingerprint: String)

  /** `source`: "catalog" when served from a fresh persisted entry,
    * "analyzed" when this call had to (re)measure.
    */
  final case class StatsResult(stats: TableStats, source: String)

  private def tag(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  private[graft] def entryFile(d: String, table: String, key: String): File =
    new File(s"${System.getProperty("java.io.tmpdir")}/graft_stats/" +
      s"${tag(d)}/${table}__$key.txt")

  /** The measuring core of every ANALYZE pass: two aggregation jobs.
    * The skew/max/rows numbers come from one groupBy(key) reduction
    * (exact — this is the one pass a real ANALYZE pays, amortized over
    * every later plan); the NDV comes from the KMV sketch aggregate
    * in a second shuffle-free pass.
    */
  private def measure(df: DataFrame, key: String,
      fingerprint: String): TableStats = {
    val g = df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("mx"), count(lit(1)).as("groups"),
        sum(col("__n")).as("tot"))
      .select(col("mx"), col("groups"), col("tot"),
        expr("(mx * groups + tot - 1) div tot").as("skew"))
      .head()
    val ndv = df.agg(
      org.apache.spark.sql.graft.SketchAggregates.kmvEstimate(
        concat(lit("stats:"), col(key).cast("string")), 4096).as("ndv"))
      .head().getDouble(0).round
    TableStats(g.getLong(2), ndv, g.getLong(0), g.getLong(3), fingerprint)
  }

  private def persist(f: File, st: TableStats): TableStats = {
    f.getParentFile.mkdirs()
    val body = Seq(s"fp=${st.fingerprint}", s"rows=${st.rows}",
      s"ndv=${st.ndv}", s"max_key_rows=${st.maxKeyRows}",
      s"skew=${st.skew}").mkString("", "\n", "\n")
    // atomic publish: a reader racing this write — or a crash
    // mid-write — must see the old entry or the new one, never a torn
    // file that would poison every later read
    CommitLog.writeAtomic(f, body)
    st
  }

  /** ANALYZE a source parquet table: measure + persist, fingerprinted
    * by the source files so a testdata rebuild reads as stale.
    */
  def analyze(s: SparkSession, d: String, table: String,
      df: DataFrame, key: String): TableStats =
    persist(entryFile(d, table, key),
      measure(df, key, CommitLog.srcFingerprint(d, table)))

  /** The entry in `f`; None when absent or UNPARSEABLE (a torn/foreign
    * file is a stale entry, not an exception — the fallback re-ANALYZE
    * self-heals it). The WHOLE read is inside the Try: a non-UTF-8 or
    * binary foreign file throws from readAllLines itself.
    */
  private def parseEntry(f: File): Option[TableStats] =
    if (!f.isFile) None
    else scala.util.Try {
      val kv = Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq
        .filter(_.contains("=")).map { l =>
          val Array(k, v) = l.split("=", 2); (k, v)
        }.toMap
      TableStats(kv("rows").toLong, kv("ndv").toLong,
        kv("max_key_rows").toLong, kv("skew").toLong, kv("fp"))
    }.toOption

  /** Read the persisted entry; None when absent, unparseable or STALE
    * (the stored fingerprint no longer matches the source parquet).
    */
  def read(d: String, table: String, key: String): Option[TableStats] =
    parseEntry(entryFile(d, table, key))
      .filter(_.fingerprint == CommitLog.srcFingerprint(d, table))

  /** Catalog read with the measured fallback: serve the persisted
    * entry when fresh, re-ANALYZE when missing or stale.
    */
  def readOrAnalyze(s: SparkSession, d: String, table: String,
      df: => DataFrame, key: String): StatsResult =
    read(d, table, key) match {
      case Some(st) => StatsResult(st, "catalog")
      case None => StatsResult(analyze(s, d, table, df, key), "analyzed")
    }

  // ---- commit-log-table entries (ANALYZE-on-write) -----------------
  // The entry is keyed on the TABLE DIR and fingerprinted by the
  // commit VERSION it was analyzed at, so ANY later commit makes it
  // stale by construction — the freshness test is one metadata read
  // (latestVersion), never a file-listing fingerprint. Paired with
  // [[CommitLog.commitAndAnalyze]] this is the Iceberg
  // ANALYZE-on-write idea: stats refresh rides the commit, and a
  // planner (j19's costGuardedJoinFromCatalog discipline) can trust a
  // fresh entry without running a single statistics job.

  private[graft] def tableEntryFile(tableDir: String, key: String): File =
    new File(s"${System.getProperty("java.io.tmpdir")}/graft_stats/" +
      s"_commitlog/${tag(tableDir)}__$key.txt")

  /** ANALYZE the head snapshot of a commit-log table; the entry's
    * fingerprint records the version analyzed.
    */
  def analyzeTable(s: SparkSession, tableDir: String,
      key: String): TableStats = {
    val v = CommitLog.latestVersion(tableDir)
    persist(tableEntryFile(tableDir, key),
      measure(CommitLog.read(s, tableDir, Some(v)), key, s"v$v"))
  }

  /** Read a commit-log table's entry; None when absent, unparseable,
    * or STALE — analyzed at any version other than the current head
    * (a commit without the ANALYZE refresh leaves the entry stale on
    * purpose: planning against pre-append stats is how a skewed
    * append silently breaks a join strategy).
    */
  def readTable(tableDir: String, key: String): Option[TableStats] =
    parseEntry(tableEntryFile(tableDir, key))
      .filter(_.fingerprint == s"v${CommitLog.latestVersion(tableDir)}")

  /** Commit-log catalog read with the measured fallback. */
  def readOrAnalyzeTable(s: SparkSession, tableDir: String,
      key: String): StatsResult =
    readTable(tableDir, key) match {
      case Some(st) => StatsResult(st, "catalog")
      case None => StatsResult(analyzeTable(s, tableDir, key), "analyzed")
    }
}
