package graft

import org.apache.spark.{MemoryPages, SparkConf}
import org.apache.spark.sql.functions._

/** O4 conf passthrough (the reference's retry budget): the defaults
  * object must carry the reference's exact Spark-level values and
  * actually apply them through both entry paths. */
class SparkConfDefaultsSpec extends SparkTestBase {

  test("retryConf mirrors the reference's Spark retry budget") {
    assert(SparkConfDefaults.retryConf ==
      Map("spark.task.maxFailures" -> "12",
        "spark.stage.maxConsecutiveAttempts" -> "12"))
  }

  test("apply(SparkConf) sets every default") {
    val c = SparkConfDefaults(new SparkConf(loadDefaults = false))
    for ((k, v) <- SparkConfDefaults.retryConf ++ SparkConfDefaults.adaptiveConf ++
        SparkConfDefaults.storageConf)
      assert(c.get(k) == v, s"$k must be set on the SparkConf")
    assert(c.get("spark.rdd.compress") == "true")
  }

  test("the shared test session runs the shipped configuration") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
    assert(conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
    assert(conf.get("spark.task.maxFailures") == "12")
    assert(conf.get("spark.rdd.compress") == "true")
    val cpus = SparkConfDefaults.cpus
    assert(conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(spark.sparkContext.master == s"local[$cpus]")
    val page = SparkConfDefaults.pageSizeBytes(Runtime.getRuntime.maxMemory)
    assert(conf.get("spark.buffer.pageSize") == s"${page >> 20}m")
    assert(MemoryPages.pageSizeBytes == page)
  }

  private val mb = 1L << 20
  private def pool(heap: Long): Long = ((heap - 300 * mb) * 0.6).toLong

  test("pages: the smallest power of two >= 1 MB whose 4096 cover the pool") {
    for ((heapMb, pageMb) <- Seq(3072L -> 1L, 7168L -> 2L, 65536L -> 16L,
        409600L -> 64L)) {
      val page = SparkConfDefaults.pageSizeBytes(heapMb * mb)
      assert(page == pageMb * mb, s"heap ${heapMb}m")
      assert(4096 * page >= pool(heapMb * mb), s"heap ${heapMb}m")
      assert(page == mb || 4096 * (page / 2) < pool(heapMb * mb),
        s"heap ${heapMb}m: half the page would cover the pool too")
    }
    // above 427 GB of heap the page stays at Spark's 64 MB maximum
    assert(SparkConfDefaults.pageSizeBytes(1024L * 1024 * mb) == 64 * mb)
    assert(SparkConfDefaults.pageSizeBytes(100 * mb) == mb)
  }

  test("apply(SparkConf) sizes pages from spark.executor.memory, if set") {
    val sized = SparkConfDefaults(new SparkConf(loadDefaults = false)
      .set("spark.executor.memory", "64g"))
    assert(sized.get("spark.buffer.pageSize") == "16m")
    val mib = SparkConfDefaults(new SparkConf(loadDefaults = false)
      .set("spark.executor.memory", "7168"))
    assert(mib.get("spark.buffer.pageSize") == "2m")
    val unset = SparkConfDefaults(new SparkConf(loadDefaults = false))
    assert(!unset.contains("spark.buffer.pageSize"))
  }

  test("a record larger than a page sorts, aggregates and shuffles") {
    import spark.implicits._
    val page = MemoryPages.pageSizeBytes
    val big = "x" * (3 << 20)
    assert(big.length > page)
    val df = Seq((1L, big), (2L, "b"), (1L, "c"), (3L, big)).toDF("k", "s")
    val sorted = df.repartition(4, $"k").sort($"s", $"k").as[(Long, String)]
      .collect().toSeq
    assert(sorted.map(_._1) == Seq(2L, 1L, 1L, 3L))
    assert(sorted.map(_._2.length) == Seq(1, 1, big.length, big.length))
    val grouped = df.groupBy($"s").agg(sum($"k").as("k"), count("*").as("n"))
      .select(length($"s"), $"k", $"n").as[(Int, Long, Long)].collect().toSet
    assert(grouped == Set((big.length, 4L, 2L), (1, 2L, 1L), (1, 1L, 1L)))
    val plan = df.groupBy($"s").agg(sum($"k")).queryExecution.executedPlan
      .toString
    assert(plan.contains("HashAggregate"), plan)
  }
}
