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
