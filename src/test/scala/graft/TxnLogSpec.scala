package graft

import java.io.File

import graft.storage.{CommitLog, TxnLog}

/** The multi-table transaction protocol's crash matrix: the marker is
  * THE commit point — before it neither table shows the txn (and the
  * staging aborts cleanly), after it both do (exposed idempotently by
  * the committer, a janitor, racing recoverers, or any reader routing
  * through TxnLog.read), never one without the other.
  */
class TxnLogSpec extends SparkTestBase {

  private def freshDir(name: String): String =
    sharedTempDir(name).getAbsolutePath

  /** A coordinator with two one-commit tables (fact-ish and agg-ish). */
  private def pair(): (String, String, String) = {
    val coord = freshDir("graft_txn_test")
    val (a, b) = (s"$coord/ta", s"$coord/tb")
    stage(a, "base", Seq((1L, "x")))
    stage(b, "base", Seq((10L, "y")))
    CommitLog.commit(a, Seq("base"), Nil, 0L)
    CommitLog.commit(b, Seq("base"), Nil, 0L)
    (coord, a, b)
  }

  private def stage(dir: String, rel: String,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "part").write.mode("overwrite")
      .parquet(s"${CommitLog.dataDir(dir)}/$rel")
  }

  test("crash BEFORE the marker: neither table exposes; abort cleans") {
    val (coord, a, b) = pair()
    stage(a, "fa", Seq((2L, "x")))
    stage(b, "fb", Seq((20L, "y")))
    TxnLog.stage(7L, Seq(TxnLog.Part(a, Seq("fa")),
      TxnLog.Part(b, Seq("fb"))))
    // the committer dies here — no marker. Recovery exposes nothing,
    // readers see the pre-txn state in BOTH tables.
    assert(TxnLog.recover(coord) === 0)
    assert(TxnLog.read(spark, coord, a).count() === 1L)
    assert(TxnLog.read(spark, coord, b).count() === 1L)
    assert(CommitLog.latestVersion(a) === 1L)
    assert(CommitLog.latestVersion(b) === 1L)
    // the staged data files are vacuum-PROTECTED while the body exists
    // (the txn may still be marked)...
    val fa = new File(CommitLog.dataDir(a), "fa")
    assert(fa.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuumOrphans(a, graceMs = 3600000L) === 0)
    assert(fa.exists())
    // ...and reclaimable once the txn aborts
    assert(TxnLog.abort(coord, 7L, a))
    assert(TxnLog.abort(coord, 7L, b))
    assert(CommitLog.vacuumOrphans(a, graceMs = 3600000L) === 1)
    assert(!fa.exists())
    assert(TxnLog.stagedTxnIds(a).isEmpty)
  }

  test("crash AFTER the marker: recovery lands the txn in BOTH tables, " +
    "idempotently") {
    val (coord, a, b) = pair()
    stage(a, "fa", Seq((2L, "x"), (3L, "x")))
    stage(b, "fb", Seq((20L, "y")))
    TxnLog.stage(7L, Seq(TxnLog.Part(a, Seq("fa")),
      TxnLog.Part(b, Seq("fb"))))
    TxnLog.commitMarker(coord, 7L, Seq(a, b))
    // the committer dies between MARK and EXPOSE. A plain reader of
    // either table still sees the old state...
    assert(CommitLog.read(spark, a).count() === 1L)
    // ...but any reader routing through the txn log completes the
    // exposure first — and sees the txn in BOTH tables
    assert(TxnLog.read(spark, coord, a).count() === 3L)
    assert(CommitLog.read(spark, b).count() === 2L,
      "recover must expose every participant, not just the one read")
    // replays are no-ops: the ledger, not the staged body, is truth
    assert(TxnLog.recover(coord) === 0)
    assert(CommitLog.latestVersion(a) === 2L)
    assert(CommitLog.latestVersion(b) === 2L)
    assert(CommitLog.committedBatchIds(a) === Set(7L))
    // spent staged bodies are cleaned
    assert(TxnLog.stagedTxnIds(a).isEmpty)
    // a committed txn can no longer abort
    intercept[IllegalArgumentException](TxnLog.abort(coord, 7L, a))
  }

  test("racing recoverers: every (table, txn) exposes exactly once") {
    val (coord, a, b) = pair()
    (1 to 4).foreach { i =>
      stage(a, s"fa$i", Seq((i.toLong, "x")))
      stage(b, s"fb$i", Seq((i * 10L, "y")))
      TxnLog.stage(i.toLong, Seq(TxnLog.Part(a, Seq(s"fa$i")),
        TxnLog.Part(b, Seq(s"fb$i"))))
      TxnLog.commitMarker(coord, i.toLong, Seq(a, b))
    }
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val exposed = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try {
          barrier.await()
          exposed.addAndGet(TxnLog.recover(coord)): Unit
        } catch { case x: Throwable => errs.add(x): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    // 4 txns × 2 tables = 8 exposures, split among the racers
    assert(exposed.get() === 8)
    assert(CommitLog.latestVersion(a) === 5L)
    assert(CommitLog.latestVersion(b) === 5L)
    assert(CommitLog.read(spark, a).count() === 5L)
    assert(CommitLog.committedBatchIds(a) === Set(1L, 2L, 3L, 4L))
  }

  test("commitAll: the one-call path; duplicate ids refuse loudly") {
    val (coord, a, b) = pair()
    stage(a, "fa", Seq((2L, "x")))
    stage(b, "fb", Seq((20L, "y")))
    val vs = TxnLog.commitAll(coord, 1L,
      Seq(TxnLog.Part(a, Seq("fa")), TxnLog.Part(b, Seq("fb"))))
    assert(vs === Map(a -> 2L, b -> 2L))
    assert(CommitLog.read(spark, a).count() === 2L)
    assert(CommitLog.read(spark, b).count() === 2L)
    // the same id cannot stage or mark twice
    intercept[IllegalArgumentException] {
      TxnLog.stage(1L, Seq(TxnLog.Part(a, Seq("fa"))))
    }
    intercept[IllegalArgumentException] {
      TxnLog.commitMarker(coord, 1L, Seq(a))
    }
    // txn exposure composes with the streaming ledger: an appendBatch
    // under a DIFFERENT id lands, the txn id stays deduped
    import spark.implicits._
    assert(CommitLog.appendBatch(a,
      Seq((9L, "z")).toDF("k", "part"), 2L))
    assert(CommitLog.committedBatchIds(a) === Set(1L, 2L))
  }
}
