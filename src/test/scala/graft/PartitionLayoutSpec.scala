package graft

import org.apache.spark.sql.functions._
import graft.sinks.ParquetSink

/** Data-layout discipline at the sink: a date-partitioned parquet sink
  * must make day-scoped reads PARTITION-PRUNED — at 100 TB the
  * difference between scanning one day's directory and scanning three
  * years of them. Asserted against the executed plan (PartitionFilters
  * on the scan node), not just row counts, plus dynamic partition
  * pruning when the day set only arrives via a dimension join.
  */
class PartitionLayoutSpec extends SparkTestBase {

  private lazy val dir = {
    val d = sharedTempDir("graft_layout").getAbsolutePath
    val sink = ParquetSink(d, partitionCols = Seq("day"))
    sink.append(graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"), to_date(col("ts")).as("day")))
    d
  }

  test("day filter on a date-partitioned sink prunes at the source") {
    val all = spark.read.parquet(dir)
    val day = all.select(max(col("day"))).collect()(0).getDate(0)
    val filtered = all.filter(col("day") === lit(day))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"scan must carry partition filters:\n$plan")
    assert(plan.replaceAll("\\s+", " ")
        .matches(""".*PartitionFilters: \[[^]]*day[^]]*\].*"""),
      s"the day predicate must be a PARTITION filter, not a row " +
        s"filter:\n$plan")
    // a partition filter never also appears as a pushed data filter —
    // the rows of the matching directory are read unfiltered
    val n = filtered.count()
    assert(n > 0)
    assert(n == all.where(to_date(col("ts")) === lit(day)).count(),
      "pruned read must return exactly the day's rows")
  }

  test("dynamic partition pruning fires when days come from a join") {
    val fact = spark.read.parquet(dir)
    // dimension: days on which a purchase occurred — the day set is
    // only knowable at runtime, and the SELECTIVE equality predicate on
    // the dim side is what the PartitionPruning rule keys on
    val dim = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
      .select(col("day").as("d_day")).distinct()
    val joined = fact.join(broadcast(dim), col("day") === col("d_day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"fact scan must be dynamically pruned by the dim days:\n$plan")
    assert(joined.count() > 0)
  }
}
