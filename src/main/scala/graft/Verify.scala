package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Every query
  * runs even when an earlier one failed; the exit status is non-zero
  * when any failed, after all outputs and oracle_sql.json are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (builder-side
    // iteration on a subset; the driver always passes two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set()
    require(only.forall(SparkEntry.queries.contains),
      s"unknown query names: ${only -- SparkEntry.queries.keySet}")
    // SPARK_GRAFT_FAMILY=d,v,stor runs only those families (the name's
    // leading letter-run: d23→d, stor1→stor) — builder-side iteration
    // knob at 248+ queries; the driver never sets it, so its runs stay
    // full-registry. Unknown families fail loudly, like unknown names.
    val famEnv: Option[Set[String]] = sys.env.get("SPARK_GRAFT_FAMILY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def family(n: String): String = n.takeWhile(!_.isDigit)
    famEnv.foreach { fs =>
      val known = SparkEntry.queries.keySet.map(family)
      require((fs -- known).isEmpty,
        s"unknown families in SPARK_GRAFT_FAMILY: ${fs -- known}")
    }
    val spark = SparkConfDefaults.session()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) =>
        (only.isEmpty || only(name)) &&
          famEnv.forall(_.contains(family(name))) }
      .flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys: two commits' files diff byte for byte
    val json = SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ERROR: ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
