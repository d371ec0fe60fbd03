package graft

/** Plan-audit tool: prints the formatted physical plan of named queries
  * (all of them when none are named) at SPARK_GRAFT_SF_DIR, under the
  * shipped session configuration. Used to check the shapes that matter
  * at 100 TB — broadcasts on the dim/probe sides,
  * PushedFilters/ReadSchema on scans, no duplicated subplans, no
  * cartesian products, WholeStageCodegen spans over the hot
  * projections.
  *
  *   sbt "runMain graft.Explain d2_jaccard_pairs v4_ivf_topk"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkConfDefaults.session()
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val (known, unknown) = names.partition(SparkEntry.queries.contains)
    known.foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
    if (unknown.nonEmpty) {
      System.err.println(s"[explain] unknown query: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
  }
}
