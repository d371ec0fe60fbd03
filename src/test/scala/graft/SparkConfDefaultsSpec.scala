package graft

import org.apache.spark.SparkConf

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
    for ((k, v) <- SparkConfDefaults.retryConf)
      assert(c.get(k) == v, s"$k must be set on the SparkConf")
  }

  test("the shared test session runs the shipped configuration") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
    assert(conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
    assert(conf.get("spark.task.maxFailures") == "12")
    val cpus = SparkConfDefaults.cpus
    assert(conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(spark.sparkContext.master == s"local[$cpus]")
  }
}
