package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusPost
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.sources.Tables

class SessionMemoSpec extends SparkTestBase {

  private val dir = "session-memo-spec"

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"not a checkpoint:\n$p")
  }

  test("a nested build does not throw; a repeat call returns the same object") {
    def inner = SessionMemo.checkpoint(spark, dir, "inner")(spark.range(8).toDF("id"))
    def outer = SessionMemo.checkpoint(spark, dir, "outer")(
      inner.selectExpr("id * 2 AS id"))
    val first = outer
    assert(first.collect().map(_.getLong(0)).sorted.toSeq == (0L until 16L by 2))
    assert(outer eq first)
    assert(inner eq inner)
  }

  test("racing builders both get the winner; the loser's checkpoint is released") {
    val barrier = new CyclicBarrier(2)
    val built = new ConcurrentLinkedQueue[DataFrame]()
    val pool = Executors.newFixedThreadPool(2)
    val got = try {
      val race = () => pool.submit(() => SessionMemo(spark, dir, "race") {
        barrier.await(60, TimeUnit.SECONDS) // both threads missed the map
        val df = spark.range(100).toDF("id").localCheckpoint()
        built.add(df)
        df
      })
      Seq(race(), race()).map(_.get(2, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(got(0) eq got(1))
    val (won, lost) = built.asScala.toSeq.partition(_ eq got(0))
    assert(won.size == 1 && lost.size == 1)
    val persistent = spark.sparkContext.getPersistentRDDs
    assert(persistent.contains(rddId(won.head)))
    assert(!persistent.contains(rddId(lost.head)))
  }

  test("a checkpointed frame is stored serialized, in a quarter of the bytes") {
    // five longs a row, shaped like the dedup pair frames: ids and counts
    val df = spark.range(200000).selectExpr("id AS id_a",
      "id + id * 31 % 97 AS id_b", "id % 50 AS inter", "id % 70 AS n_a",
      "id % 90 AS n_b")
    val plain = df.localCheckpoint()
    val kept = SessionMemo.checkpoint(spark, dir, "storage-form")(df)
    try {
      def stored(f: DataFrame) = spark.sparkContext.getRDDStorageInfo
        .find(_.id == rddId(f)).getOrElse(fail(s"no blocks for rdd ${rddId(f)}"))
      val (p, k) = (stored(plain), stored(kept))
      assert(p.storageLevel.deserialized)
      assert(!k.storageLevel.deserialized, k.storageLevel)
      assert(k.memSize > 0 && k.diskSize == 0, k)
      assert(k.memSize * 4 <= p.memSize, s"kept ${k.memSize} B, plain ${p.memSize} B")
      assert(kept.count() == 200000)
      assert(kept.exceptAll(plain).isEmpty && plain.exceptAll(kept).isEmpty)
    } finally spark.sparkContext.getPersistentRDDs.get(rddId(plain))
      .foreach(_.unpersist(blocking = true))
  }

  test("the application-end hook clears every entry, the ranked RFM frame too") {
    Tables.lineitem(spark, sf0001)
    QueriesEvents.rfmRanked(spark, sf0001)
    val names = SessionMemo.keys.map(_._3)
    assert(names("table.lineitem") && names("events.rfm_ranked"), names)
    ListenerBusPost(spark.sparkContext,
      SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(SessionMemo.keys.isEmpty)
  }
}
