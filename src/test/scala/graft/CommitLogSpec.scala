package graft

import java.io.File

import graft.storage.CommitLog

/** The table-format write path's invariants: atomic publish, optimistic
  * concurrency (the two-writer conflict the protocol is FOR), replay
  * correctness through removes, and checkpoint-then-delete expiry with
  * a loud refusal below the horizon.
  */
class CommitLogSpec extends SparkTestBase {

  private def freshDir(): String =
    sharedTempDir("graft_cl_test").getAbsolutePath

  private def stage(dir: String, rel: String, rows: Seq[(Long, String)])
      : Unit = {
    import spark.implicits._
    rows.toDF("k", "part").write.mode("overwrite")
      .parquet(s"${CommitLog.dataDir(dir)}/$rel")
  }

  test("append commits replay to the right live set; reads see them") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "a")))
    stage(t, "f2", Seq((3L, "b")))
    assert(CommitLog.latestVersion(t) === 0L)
    assert(CommitLog.commit(t, Seq("f1"), Nil, 0L) === 1L)
    assert(CommitLog.commit(t, Seq("f2"), Nil, 1L) === 2L)
    assert(CommitLog.liveFiles(t, 1L) === Seq("f1"))
    assert(CommitLog.liveFiles(t, 2L) === Seq("f1", "f2"))
    assert(CommitLog.read(spark, t, Some(1L)).count() === 2L)
    assert(CommitLog.read(spark, t).count() === 3L)
  }

  test("remove commits hide files from later snapshots only") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    CommitLog.commit(t, Seq("f1", "f2"), Nil, 0L)
    CommitLog.commit(t, Nil, Seq("f1"), 1L)
    assert(CommitLog.liveFiles(t, 1L) === Seq("f1", "f2"))
    assert(CommitLog.liveFiles(t, 2L) === Seq("f2"))
    // the removed file is still on disk (referenced by v1)
    assert(new File(CommitLog.dataDir(t), "f1").exists())
  }

  test("stale expected version conflicts; unknown snapshots refuse") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    val e = intercept[CommitLog.CommitConflict] {
      CommitLog.commit(t, Seq("f1"), Nil, 0L) // expected=0 but head=1
    }
    assert(e.attempted === 1L && e.latest === 1L)
    intercept[IllegalArgumentException](CommitLog.liveFiles(t, 99L))
    intercept[IllegalArgumentException](CommitLog.liveFiles(t, 0L))
  }

  test("two concurrent committers: one wins, loser retries on refresh") {
    val t = freshDir()
    stage(t, "base", Seq((0L, "z")))
    stage(t, "fa", Seq((1L, "a")))
    stage(t, "fb", Seq((2L, "b")))
    CommitLog.commit(t, Seq("base"), Nil, 0L)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("fa", "fb").map { f =>
      new Thread(() => {
        try {
          val expected = CommitLog.latestVersion(t) // both read v1
          barrier.await()
          try { CommitLog.commit(t, Seq(f), Nil, expected); () }
          catch {
            case _: CommitLog.CommitConflict =>
              conflicts.incrementAndGet()
              CommitLog.commit(t, Seq(f), Nil,
                CommitLog.latestVersion(t)): Unit
          }
        } catch { case x: Throwable => errs.add(x): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(conflicts.get() === 1, "exactly one writer must lose the race")
    assert(CommitLog.latestVersion(t) === 3L)
    // final state carries BOTH batches regardless of race order
    assert(CommitLog.liveFiles(t, 3L) === Seq("base", "fa", "fb"))
  }

  test("commitWithRetry recomputes its batch against the refreshed head") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    val (v, c) = CommitLog.commitWithRetry(t,
      live => (Seq("f2"), live.filter(_ == "f1")))
    assert(v === 2L && c === 0)
    assert(CommitLog.liveFiles(t, 2L) === Seq("f2"))
  }

  test("expiry: checkpointed replay, physical deletion, loud refusal") {
    val t = freshDir()
    stage(t, "old", Seq((1L, "a")))
    stage(t, "mid", Seq((2L, "b")))
    stage(t, "new", Seq((3L, "c")))
    CommitLog.commit(t, Seq("old"), Nil, 0L)    // v1
    CommitLog.commit(t, Seq("mid"), Nil, 1L)    // v2
    CommitLog.commit(t, Seq("new"), Seq("old"), 2L) // v3: drop "old"
    val (nManifests, nFiles) = CommitLog.expireSnapshots(t, 3L)
    assert(nManifests === 2 && nFiles === 1)
    // "old" was referenced only by v1/v2 — physically gone
    assert(!new File(CommitLog.dataDir(t), "old").exists())
    // surviving files intact; v3 replays from the checkpoint
    assert(CommitLog.liveFiles(t, 3L) === Seq("mid", "new"))
    assert(CommitLog.read(spark, t).count() === 2L)
    // time travel below the horizon refuses loudly
    val e = intercept[CommitLog.SnapshotExpired](CommitLog.liveFiles(t, 2L))
    assert(e.earliest === 3L)
    // idempotent: a second expiry at the same horizon is a no-op
    assert(CommitLog.expireSnapshots(t, 3L) === ((0, 0)))
    // commits continue past the checkpoint and replay through it
    stage(t, "f4", Seq((4L, "d")))
    CommitLog.commit(t, Seq("f4"), Nil, 3L)
    assert(CommitLog.liveFiles(t, 4L) === Seq("f4", "mid", "new"))
  }

  test("appendBatch: exactly-once under replay, ACID under readers") {
    import spark.implicits._
    val t = freshDir()
    val b0 = Seq((1L, "a"), (2L, "a")).toDF("k", "part")
    assert(CommitLog.appendBatch(t, b0, 0L))
    // a replayed batch (Structured Streaming's at-least-once
    // foreachBatch delivery) must detect its id and commit nothing
    assert(!CommitLog.appendBatch(t, b0, 0L))
    assert(CommitLog.latestVersion(t) === 1L)
    assert(CommitLog.read(spark, t).count() === 2L)
    assert(CommitLog.appendBatch(t, Seq((3L, "b")).toDF("k", "part"), 1L))
    assert(CommitLog.committedBatchIds(t) === Set(0L, 1L))
    assert(CommitLog.read(spark, t).count() === 3L)
    // batch commits are append-only: the incremental contract holds
    assert(CommitLog.readIncrement(spark, t, 1L, 2L).count() === 1L)
  }

  test("a stream lands through appendBatch and replays nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = freshDir()
    val ms = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String)]
    ms.addData((1L, "a"), (2L, "b"))
    withTempDir("graft_cl_ckpt") { ckpt =>
      def run(): Unit = {
        val q = ms.toDF().toDF("k", "part").writeStream
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            CommitLog.appendBatch(t, b, id): Unit
          }.start()
        try q.awaitTermination(120000) finally q.stop()
      }
      run()
      assert(CommitLog.read(spark, t).count() === 2L)
      // restart from the same checkpoint with one new batch: only the
      // new rows land, the old batch is not re-committed
      ms.addData((3L, "c"))
      run()
      assert(CommitLog.read(spark, t).count() === 3L)
      assert(CommitLog.read(spark, t).select("k").as[Long].collect()
        .toSet === Set(1L, 2L, 3L))
    }
  }

  /** The 8-writer race body, shared by the hard-link and
    * conditional-PUT runs: the protocol's liveness + safety argument
    * must hold under any [[CommitLog.PublishPrimitive]] honoring the
    * claim-or-fail contract (VERDICT r17 #5).
    */
  private def eightWriterRace(): Unit = {
    val t = freshDir()
    val n = 8
    (1 to n).foreach(i => stage(t, s"f$i", Seq((i.toLong, "x"))))
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to n).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          val (_, c) = CommitLog.commitWithRetry(t,
            _ => (Seq(s"f$i"), Nil), maxRetries = n + 2)
          conflicts.addAndGet(c): Unit
        } catch { case x: Throwable => errs.add(x): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(CommitLog.latestVersion(t) === n.toLong,
      "every writer must land exactly one commit")
    assert(CommitLog.liveFiles(t, n.toLong) ===
      (1 to n).map(i => s"f$i").sorted)
    // total-order contention bound: each retry round has one winner
    assert(conflicts.get() <= n * (n - 1) / 2)
  }

  private[graft] def withPrimitive[T](p: CommitLog.PublishPrimitive)
      (body: => T): T = {
    val old = CommitLog.publishPrimitive
    CommitLog.publishPrimitive = p
    try body finally CommitLog.publishPrimitive = old
  }

  /** A claim primitive whose first claim finds the writer's staging
    * reclaimed: it deletes the data entries named `prefix*` (what a
    * vacuum that outlasted the staging sentinel does) and reports the
    * name taken. Later claims publish normally.
    */
  private def vanishOnFirstClaim(prefix: String) =
    new CommitLog.PublishPrimitive {
      private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      def claim(dir: File, name: String, body: String): Boolean =
        if (first.getAndSet(false)) {
          Option(new File(dir.getParentFile, "data").listFiles()).toSeq
            .flatten.filter(_.getName.startsWith(prefix))
            .foreach(CommitLog.deleteRecursively)
          false
        } else CommitLog.HardLinkPublish.claim(dir, name, body)
    }

  /** `write` under [[vanishOnFirstClaim]] must throw, and publish nothing. */
  private def refusesVanished(t: String, prefix: String)(write: => Any)
      : Unit = {
    val head = CommitLog.latestVersion(t)
    val e = intercept[IllegalStateException](
      withPrimitive(vanishOnFirstClaim(prefix))(write))
    assert(e.getMessage.contains("vanished before commit"))
    assert(CommitLog.latestVersion(t) === head)
  }

  test("a staged entry that vanished before the claim is refused") {
    import spark.implicits._
    val b = Seq((1L, "a"), (2L, "b")).toDF("k", "part")
    // appendBatch: the ledger does not record the batch; a retry commits
    val ta = freshDir()
    refusesVanished(ta, "batch_")(CommitLog.appendBatch(ta, b, 0L))
    assert(CommitLog.committedBatchIds(ta) === Set.empty[Long])
    assert(CommitLog.appendBatch(ta, b, 0L))
    assert(CommitLog.committedBatchIds(ta) === Set(0L))
    assert(CommitLog.read(spark, ta).count() === 2L)
    // upsertBatch: the same, with its key file staged beside the batch
    val tu = freshDir()
    refusesVanished(tu, "upsert_")(CommitLog.upsertBatch(tu, b, Seq("k"), 0L))
    assert(CommitLog.committedBatchIds(tu) === Set.empty[Long])
    assert(CommitLog.upsertBatch(tu, b, Seq("k"), 0L))
    assert(CommitLog.committedBatchIds(tu) === Set(0L))
    assert(CommitLog.read(spark, tu).count() === 2L)
    // syncIncrement: the consumed upstream version does not move
    val (up, down) = (freshDir(), freshDir())
    stage(up, "f1", Seq((1L, "a"), (2L, "b")))
    CommitLog.commit(up, Seq("f1"), Nil, 0L)
    refusesVanished(down, "sync_")(
      CommitLog.syncIncrement(spark, up, down)(identity))
    assert(CommitLog.consumedUpstreamVersion(down) === 0L)
    assert(CommitLog.syncIncrement(spark, up, down)(identity) ===
      Some((1L, 0L, 1L)))
    assert(CommitLog.consumedUpstreamVersion(down) === 1L)
    assert(CommitLog.read(spark, down).count() === 2L)
  }

  test("eight concurrent committers all land; final set is the union") {
    eightWriterRace()
  }

  test("the 8-writer race holds under the conditional-PUT primitive") {
    // the object-store shape: no link(2), claim-or-fail decided by one
    // create-exclusive write of the final name
    withPrimitive(CommitLog.ConditionalPutPublish)(eightWriterRace())
  }

  test("concurrent batch replays stay exactly-once under conditional PUT") {
    import spark.implicits._
    withPrimitive(CommitLog.ConditionalPutPublish) {
      val t = freshDir()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val landed = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val dfs = Seq(Seq((1L, "a")).toDF("k", "part"),
        Seq((1L, "a")).toDF("k", "part"))
      val threads = dfs.map { df =>
        new Thread(() => {
          try {
            barrier.await()
            if (CommitLog.appendBatch(t, df, 7L))
              landed.incrementAndGet(): Unit
          } catch { case x: Throwable => errs.add(x): Unit }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, errs.toString)
      assert(landed.get() === 1, "the batch must commit exactly once")
      assert(CommitLog.read(spark, t).count() === 1L)
    }
  }

  test("concurrent replays of one batch id: exactly one commits") {
    import spark.implicits._
    val t = freshDir()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val dfs = Seq(Seq((1L, "a")).toDF("k", "part"),
      Seq((1L, "a")).toDF("k", "part"))
    val threads = dfs.map { df =>
      new Thread(() => {
        try {
          barrier.await()
          if (CommitLog.appendBatch(t, df, 7L)) landed.incrementAndGet(): Unit
        } catch { case x: Throwable => errs.add(x): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(landed.get() === 1, "the batch must commit exactly once")
    assert(CommitLog.read(spark, t).count() === 1L)
    assert(CommitLog.committedBatchIds(t) === Set(7L))
  }

  test("manifest stats: replay through removes, survive expiry") {
    import CommitLog.ColStats
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    stage(t, "f3", Seq((3L, "c")))
    CommitLog.commit(t, Seq("f1", "f2"), Nil, 0L, Map(
      "f1" -> Map("k" -> ColStats("1", "1")),
      "f2" -> Map("k" -> ColStats("2", "2"))))
    CommitLog.commit(t, Seq("f3"), Seq("f1"), 1L, Map(
      "f3" -> Map("k" -> ColStats("3", "3"))))
    // v1 sees both original files' stats; v2 drops f1's with the file
    assert(CommitLog.statsAt(t, 1L).keySet === Set("f1", "f2"))
    assert(CommitLog.statsAt(t, 2L) === Map(
      "f2" -> Map("k" -> ColStats("2", "2")),
      "f3" -> Map("k" -> ColStats("3", "3"))))
    // stats ride the checkpoint across expiry
    CommitLog.expireSnapshots(t, 2L)
    assert(CommitLog.statsAt(t, 2L) === Map(
      "f2" -> Map("k" -> ColStats("2", "2")),
      "f3" -> Map("k" -> ColStats("3", "3"))))
    // and replay forward past it
    stage(t, "f4", Seq((4L, "d")))
    CommitLog.commit(t, Seq("f4"), Nil, 2L,
      Map("f4" -> Map("k" -> ColStats("4", "4"))))
    assert(CommitLog.statsAt(t, 3L).keySet === Set("f2", "f3", "f4"))
    // tabs/newlines in stats values are refused at write
    intercept[IllegalArgumentException] {
      CommitLog.commit(t, Seq("f4"), Nil, 3L,
        Map("f4" -> Map("k" -> ColStats("a\tb", "c"))))
    }
  }

  test("planScan: range skipping, conjunction, conservative no-stats") {
    import CommitLog.{ColStats, RangePredicate}
    val t = freshDir()
    Seq("half", "jan", "feb", "mar", "nostats").foreach(f =>
      stage(t, f, Seq((1L, "x"))))
    CommitLog.commit(t, Seq("half", "jan", "feb", "mar", "nostats"),
      Nil, 0L, Map(
        "jan" -> Map("d" -> ColStats("2024-01-01", "2024-01-31"),
          "k" -> ColStats("5", "40")),
        "feb" -> Map("d" -> ColStats("2024-02-01", "2024-02-29"),
          "k" -> ColStats("90", "200")),
        "mar" -> Map("d" -> ColStats("2024-03-01", "2024-03-31"),
          "k" -> ColStats("7", "35")),
        // d stats only — skippable on d, blind on k
        "half" -> Map("d" -> ColStats("2024-01-05", "2024-01-15"))))
    val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
    // date window [feb 10, mar 5): jan+half skip (max < lo), feb+mar
    // kept; "nostats" has no stats — conservatively kept and reported
    val p1 = CommitLog.planScan(t, 1L,
      Seq(RangePredicate("d", "2024-02-10", "2024-03-05")))
    assert(p1.selected === Seq("feb", "mar", "nostats"))
    assert(p1.skipped === Map("d" -> 2L))
    assert(p1.noStats === Seq("nostats"))
    // conjunction: the numeric band [50, 80) also kills feb (min 90 >=
    // 80) and mar/jan (max < 50) — only the stats-less file survives.
    // "half" is already skipped by d, so its missing k stats do NOT
    // put it in noStats (noStats ⊆ selected by contract)
    val p2 = CommitLog.planScan(t, 1L, Seq(
      RangePredicate("d", "2024-02-10", "2024-03-05"),
      RangePredicate("k", "50", "80", numCmp)))
    assert(p2.selected === Seq("nostats"))
    assert(p2.skipped === Map("d" -> 2L, "k" -> 3L))
    assert(p2.noStats === Seq("nostats"))
    // the comparator is load-bearing: against the band [100, 150),
    // feb's [90, 200] numerically OVERLAPS (must be read), but the
    // DEFAULT string order wrongly skips it ("90" >= "150" lexically)
    // — numeric columns MUST pass a numeric comparator
    assert(!CommitLog.planScan(t, 1L,
      Seq(RangePredicate("k", "100", "150"))).selected.contains("feb"),
      "documents the lexical hazard the numeric comparator exists for")
    assert(CommitLog.planScan(t, 1L,
      Seq(RangePredicate("k", "100", "150", numCmp)))
      .selected.contains("feb"))
    // an empty predicate list selects every live file
    assert(CommitLog.planScan(t, 1L, Nil).selected.size === 5)
  }

  test("syncIncrement: exactly-once derived table, resumes after catchup") {
    import org.apache.spark.sql.functions._
    val up = freshDir()
    val down = freshDir()
    stage(up, "f1", Seq((1L, "a"), (2L, "a")))
    stage(up, "f2", Seq((3L, "b")))
    CommitLog.commit(up, Seq("f1"), Nil, 0L)
    CommitLog.commit(up, Seq("f2"), Nil, 1L)
    def sync() = CommitLog.syncIncrement(spark, up, down)(
      _.withColumn("k2", col("k") * 2))
    // first sync consumes the whole history (0, 2]
    assert(sync() === Some((1L, 0L, 2L)))
    assert(CommitLog.read(spark, down).count() === 3L)
    // caught up: a replay is a no-op, nothing committed twice
    assert(sync() === None)
    assert(CommitLog.latestVersion(down) === 1L)
    // upstream advances; only the increment flows
    stage(up, "f3", Seq((4L, "c")))
    CommitLog.commit(up, Seq("f3"), Nil, 2L)
    assert(sync() === Some((2L, 2L, 3L)))
    assert(CommitLog.read(spark, down).count() === 4L)
    assert(CommitLog.readIncrement(spark, down, 1L, 2L).count() === 1L)
    // the transform actually applied
    import spark.implicits._
    assert(CommitLog.read(spark, down).select("k2").as[Long]
      .collect().sorted === Array(2L, 4L, 6L, 8L))
    // a derived table refuses to sync across an upstream rewrite
    stage(up, "f4", Seq((5L, "d")))
    CommitLog.commit(up, Seq("f4"), Seq("f1"), 3L)
    intercept[IllegalStateException](sync())
  }

  test("syncIncrement: racing syncers — exactly one lands") {
    import org.apache.spark.sql.functions._
    val up = freshDir()
    val down = freshDir()
    stage(up, "f1", Seq((1L, "a")))
    CommitLog.commit(up, Seq("f1"), Nil, 0L)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          barrier.await()
          if (CommitLog.syncIncrement(spark, up, down)(
            _.withColumn("k2", col("k") * 2)).isDefined)
            landed.incrementAndGet(): Unit
        } catch { case x: Throwable => errs.add(x): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(landed.get() === 1, "the range must be consumed exactly once")
    assert(CommitLog.latestVersion(down) === 1L)
    assert(CommitLog.read(spark, down).count() === 1L)
    assert(CommitLog.consumedUpstreamVersion(down) === 1L)
  }

  test("expiry preserves the exactly-once ledgers in the checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // appendBatch ledger: expire past the batch's manifest, then replay
    val t = freshDir()
    assert(CommitLog.appendBatch(t, Seq((1L, "a")).toDF("k", "part"), 0L))
    assert(CommitLog.appendBatch(t, Seq((2L, "b")).toDF("k", "part"), 1L))
    CommitLog.expireSnapshots(t, 2L)
    assert(CommitLog.committedBatchIds(t) === Set(0L, 1L),
      "expiry must not erase batch ids — a late replay would recommit")
    assert(!CommitLog.appendBatch(t, Seq((1L, "a")).toDF("k", "part"), 0L))
    assert(CommitLog.read(spark, t).count() === 2L)
    // syncIncrement ledger: expire the manifest carrying the U line
    val up = freshDir()
    val down = freshDir()
    stage(up, "f1", Seq((1L, "a")))
    CommitLog.commit(up, Seq("f1"), Nil, 0L)
    assert(CommitLog.syncIncrement(spark, up, down)(
      _.withColumn("k2", col("k") * 2)).isDefined)
    stage(down, "extra", Seq((9L, "z")))
    CommitLog.commit(down, Seq("extra"), Nil, 1L)
    CommitLog.expireSnapshots(down, 2L)
    assert(CommitLog.consumedUpstreamVersion(down) === 1L,
      "expiry must not reopen a consumed upstream range")
    assert(CommitLog.syncIncrement(spark, up, down)(identity) === None)
  }

  test("checkpoint(): atomic, idempotent, bounds ledger replay") {
    import spark.implicits._
    val t = freshDir()
    assert(CommitLog.appendBatch(t, Seq((1L, "a")).toDF("k", "part"), 0L))
    stage(t, "f2", Seq((2L, "b")))
    CommitLog.commit(t, Seq("f2"), Nil, 1L,
      Map("f2" -> Map("k" -> CommitLog.ColStats("2", "2"))))
    assert(CommitLog.checkpoint(t))
    assert(!CommitLog.checkpoint(t), "second checkpoint at head: no-op")
    // replay from the checkpoint reproduces live set, stats and ledger
    assert(CommitLog.liveFiles(t, 2L).size === 2)
    assert(CommitLog.statsAt(t, 2L)("f2") ===
      Map("k" -> CommitLog.ColStats("2", "2")))
    assert(CommitLog.committedBatchIds(t) === Set(0L))
    // commits continue past it and the ledger keeps accumulating
    assert(CommitLog.appendBatch(t, Seq((3L, "c")).toDF("k", "part"), 1L))
    assert(CommitLog.committedBatchIds(t) === Set(0L, 1L))
    assert(CommitLog.read(spark, t).count() === 3L)
  }

  test("vacuumOrphans: reclaims crashed stagings, spares the committed") {
    val t = freshDir()
    stage(t, "committed", Seq((1L, "a")))
    stage(t, "removed_later", Seq((2L, "b")))
    stage(t, "crashed_staging", Seq((3L, "c"))) // never committed
    CommitLog.commit(t, Seq("committed", "removed_later"), Nil, 0L)
    CommitLog.commit(t, Nil, Seq("removed_later"), 1L)
    // zero grace is refused — an in-flight writer stages BEFORE it
    // commits, so a graceless vacuum races it into data loss
    intercept[IllegalArgumentException](CommitLog.vacuumOrphans(t, 0L))
    // age the crashed staging past a real grace window
    val crashed = new File(CommitLog.dataDir(t), "crashed_staging")
    assert(crashed.setLastModified(
      System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuumOrphans(t, graceMs = 3600000L) === 1)
    assert(!crashed.exists())
    // committed files survive — even ones later REMOVED (expiry's job)
    assert(new File(CommitLog.dataDir(t), "committed").exists())
    assert(new File(CommitLog.dataDir(t), "removed_later").exists())
    // the grace window protects an in-flight staging
    stage(t, "in_flight", Seq((4L, "d")))
    assert(CommitLog.vacuumOrphans(t, graceMs = 3600000L) === 0)
    assert(new File(CommitLog.dataDir(t), "in_flight").exists())
  }

  test("expiry horizon outside the committed range refuses") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    intercept[IllegalArgumentException](CommitLog.expireSnapshots(t, 2L))
    intercept[IllegalArgumentException](CommitLog.expireSnapshots(t, 0L))
  }

  test("a re-add without fresh stats clears the prior stats (ADVICE r16)") {
    import CommitLog.{ColStats, RangePredicate}
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L,
      Map("f1" -> Map("k" -> ColStats("1", "5"))))
    // v2 re-adds f1 in place WITHOUT stats (a writer that rewrote the
    // file's content under the same name, widening k beyond 5): the
    // stale [1,5] bounds must NOT survive — planScan would wrongly
    // skip the file for k in [50, 60) and drop rows
    CommitLog.commit(t, Seq("f1"), Nil, 1L)
    assert(CommitLog.statsAt(t, 2L) === Map.empty)
    val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
    val p = CommitLog.planScan(t, 2L,
      Seq(RangePredicate("k", "50", "60", numCmp)))
    assert(p.selected === Seq("f1"), "no stats → conservatively read")
    assert(p.noStats === Seq("f1"))
    // and stats FOR files the commit does not add are refused outright
    stage(t, "f2", Seq((2L, "b")))
    intercept[IllegalArgumentException] {
      CommitLog.commit(t, Seq("f2"), Nil, 2L,
        Map("f1" -> Map("k" -> ColStats("0", "9"))))
    }
  }

  test("vacuum spares a staging with a fresh sentinel; sweeps stale ones") {
    val t = freshDir()
    stage(t, "committed", Seq((1L, "a")))
    CommitLog.commit(t, Seq("committed"), Nil, 0L)
    // a long-stalled writer: staged dir aged past the grace window,
    // but its sentinel heartbeat is fresh — vacuum must spare it
    CommitLog.touchSentinel(t, "stalled_staging")
    stage(t, "stalled_staging", Seq((2L, "b")))
    val stalled = new File(CommitLog.dataDir(t), "stalled_staging")
    assert(stalled.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuumOrphans(t, graceMs = 3600000L) === 0)
    assert(stalled.exists())
    // once the sentinel itself goes stale (writer truly dead), both
    // the staging and its sentinel are reclaimed together
    val sentinel = CommitLog.stagingSentinel(t, "stalled_staging")
    assert(sentinel.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuumOrphans(t, graceMs = 3600000L) === 1)
    assert(!stalled.exists() && !sentinel.exists())
    // a stale sentinel whose staging never materialized (crash before
    // the first byte) is swept without counting as a data reclaim
    CommitLog.touchSentinel(t, "never_staged")
    val ghost = CommitLog.stagingSentinel(t, "never_staged")
    assert(ghost.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuumOrphans(t, graceMs = 3600000L) === 0)
    assert(!ghost.exists())
  }

  test("equality deletes: key anti-join read, fold, checkpoint carriage") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "a")))
    stage(t, "f2", Seq((3L, "b"), (4L, "b")))
    CommitLog.commit(t, Seq("f1", "f2"), Nil, 0L) // v1
    // v2: erase subjects k ∈ {2, 3} BY KEY — one tiny file of key
    // values, no scan to locate positions, no rewrite
    Seq(2L, 3L).toDF("k").coalesce(1)
      .write.parquet(s"${CommitLog.dataDir(t)}/eq2")
    CommitLog.commitTagged(t, Nil, Nil, 1L,
      eqDeletes = Seq(("eq2", Seq("k"))))
    assert(CommitLog.liveEqDeleteFiles(t, 2L) === Seq(("eq2", Seq("k"))))
    assert(CommitLog.read(spark, t).select("k").as[Long].collect()
      .toSet === Set(1L, 4L))
    // v1 time travel is untouched
    assert(CommitLog.read(spark, t, Some(1L)).count() === 4L)
    // the feed renders the erasure as row-level deletes
    val ch = CommitLog.changes(spark, t, 1L, 2L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((2L, "delete"), (3L, "delete")))
    // file-level increments refuse to cross it
    intercept[IllegalStateException](CommitLog.addedFiles(t, 1L, 2L))
    // v3: the FOLD — rewrite both files with the keys applied, retire
    // the E file in the same atomic commit, tagged replace
    CommitLog.read(spark, t, Some(2L)).coalesce(1)
      .write.parquet(s"${CommitLog.dataDir(t)}/fold3")
    CommitLog.commitTagged(t, Seq("fold3"), Seq("f1", "f2", "eq2"), 2L,
      op = Some("replace"))
    assert(CommitLog.liveEqDeleteFiles(t, 3L) === Nil)
    assert(CommitLog.read(spark, t).select("k").as[Long].collect()
      .toSet === Set(1L, 4L))
    assert(CommitLog.changes(spark, t, 2L, 3L).count() === 0L)
    // a re-marked key across two overlapping E commits emits once:
    // v4 re-erases k=2 (already gone) plus k=4 — only k=4 is a change
    Seq(2L, 4L).toDF("k").coalesce(1)
      .write.parquet(s"${CommitLog.dataDir(t)}/eq4")
    CommitLog.commitTagged(t, Nil, Nil, 3L,
      eqDeletes = Seq(("eq4", Seq("k"))))
    val ch4 = CommitLog.changes(spark, t, 3L, 4L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch4 === Set((4L, "delete")),
      "an already-erased key must not re-emit (at-most-once deletes)")
    // E lines ride the checkpoint across expiry
    CommitLog.expireSnapshots(t, 4L)
    assert(CommitLog.liveEqDeleteFiles(t, 4L) === Seq(("eq4", Seq("k"))))
    assert(CommitLog.read(spark, t).select("k").as[Long].collect()
      .toSet === Set(1L))
    // tabs/commas in key columns are refused at write
    intercept[IllegalArgumentException] {
      CommitLog.commitTagged(t, Nil, Nil, 4L,
        eqDeletes = Seq(("x", Seq("a,b"))))
    }
  }

  test("overlapping positional deletes: the feed emits each row once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "a"), (3L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L) // v1
    // v2 marks k=2; v3 marks k∈{2,3} — k=2 re-marked (both delete
    // files scan RAW files, so overlap is the documented shape)
    CommitLog.deleteRows(spark, t, Seq("f1"), col("k") === 2L)
      .coalesce(1).write.parquet(s"${CommitLog.dataDir(t)}/d2")
    CommitLog.commit(t, Nil, Nil, 1L, Map.empty, Seq("d2"))
    CommitLog.deleteRows(spark, t, Seq("f1"),
      col("k") === 2L || col("k") === 3L)
      .coalesce(1).write.parquet(s"${CommitLog.dataDir(t)}/d3")
    CommitLog.commit(t, Nil, Nil, 2L, Map.empty, Seq("d3"))
    // application was always correct (anti-join): head sees only k=1
    assert(CommitLog.read(spark, t).select("k").as[Long].collect()
      .toSet === Set(1L))
    // the FEED must also be at-most-once per logical row (ADVICE r17):
    // v3's delete emits ONLY k=3 — k=2 was already dead at the parent
    val ch = CommitLog.changes(spark, t, 1L, 3L)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(ch === Set((2L, "delete", 2L), (3L, "delete", 3L)),
      s"duplicate delete rows in the feed: $ch")
  }

  test("lineageVersions and addedBytes: paced-source metadata") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    stage(t, "f3", Seq((3L, "c")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commit(t, Seq("f2"), Nil, 1L)
    CommitLog.commit(t, Seq("f3"), Nil, 2L)
    assert(CommitLog.lineageVersions(t, 0L, 3L) === Seq(1L, 2L, 3L))
    assert(CommitLog.lineageVersions(t, 2L, 3L) === Seq(3L))
    assert(CommitLog.lineageVersions(t, 3L, 3L) === Nil)
    // each commit added one parquet dir: bytes are positive and sum to
    // the data dir's total
    val per = (1L to 3L).map(CommitLog.addedBytes(t, _))
    assert(per.forall(_ > 0L))
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum)
      else f.length()
    assert(per.sum === du(new File(CommitLog.dataDir(t))))
  }

  test("aggBounds: metadata extremum, refusals on gaps and deletes") {
    import org.apache.spark.sql.functions.col
    val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
    val t = freshDir()
    stage(t, "f1", Seq((3L, "a"), (7L, "a")))
    stage(t, "f2", Seq((1L, "b"), (9L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L,
      Map("f1" -> Map("k" -> CommitLog.ColStats("3", "7"))))
    // a live file without stats for the column: refuse
    CommitLog.commit(t, Seq("f2"), Nil, 1L)
    assert(CommitLog.aggBounds(t, 1L, "k", numCmp) === Some(("3", "7")))
    assert(CommitLog.aggBounds(t, 2L, "k", numCmp) === None)
    // stats arrive with a re-add: the fold spans both files
    CommitLog.commit(t, Seq("f2"), Nil, 2L,
      Map("f2" -> Map("k" -> CommitLog.ColStats("1", "9"))))
    assert(CommitLog.aggBounds(t, 3L, "k", numCmp) === Some(("1", "9")))
    // a live positional-delete file may mask the extremum: refuse
    CommitLog.deleteRows(spark, t, Seq("f2"), col("k") === 9L)
      .write.parquet(s"${CommitLog.dataDir(t)}/del_v4")
    CommitLog.commit(t, Nil, Nil, 3L, Map.empty, Seq("del_v4"))
    assert(CommitLog.aggBounds(t, 4L, "k", numCmp) === None)
    // earlier snapshots still answer from metadata
    assert(CommitLog.aggBounds(t, 3L, "k", numCmp) === Some(("1", "9")))
  }

  test("one-commit MOR upsert: eq deletes skip the batch's own file") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    // upsert = ONE commit: the batch file + its keys as an eq delete.
    // Sequence semantics (eq applies only to strictly older files)
    // keep the batch from deleting itself.
    stage(t, "up2", Seq((2L, "B"), (9L, "z")))
    Seq(2L, 9L).toDF("k").write
      .parquet(s"${CommitLog.dataDir(t)}/ek2")
    CommitLog.commitTagged(t, Seq("up2"), Nil, 1L,
      eqDeletes = Seq(("ek2", Seq("k"))))
    def state() = CommitLog.read(spark, t)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("part")))
      .toSet
    assert(state() === Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    // a second upsert re-targets a key the FIRST batch inserted: the
    // older batch file is now strictly older, so it masks correctly
    stage(t, "up3", Seq((9L, "Z")))
    Seq(9L).toDF("k").write
      .parquet(s"${CommitLog.dataDir(t)}/ek3")
    CommitLog.commitTagged(t, Seq("up3"), Nil, 2L,
      eqDeletes = Seq(("ek3", Seq("k"))))
    assert(state() === Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")))
    // time travel: each snapshot under its own delete horizon
    assert(CommitLog.read(spark, t, Some(1L)).count() === 3L)
    assert(CommitLog.read(spark, t, Some(2L))
      .filter(col("k") === 9L).count() === 1L)
  }

  test("upsertBatch: exactly-once replay, state, key-dup refusal") {
    import spark.implicits._
    val t = freshDir()
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "part")
    assert(CommitLog.upsertBatch(t, b0, Seq("k"), 0L))
    // replaying the same batch id is a ledgered no-op
    assert(!CommitLog.upsertBatch(t, b0, Seq("k"), 0L))
    assert(CommitLog.latestVersion(t) === 1L)
    val b1 = Seq((2L, "B"), (5L, "e")).toDF("k", "part")
    assert(CommitLog.upsertBatch(t, b1, Seq("k"), 1L))
    val state = CommitLog.read(spark, t).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("part"))).toSet
    assert(state === Set((1L, "a"), (2L, "B"), (5L, "e")))
    // an in-batch duplicate key has no defined winner: refuse
    intercept[IllegalArgumentException](CommitLog.upsertBatch(t,
      Seq((7L, "x"), (7L, "y")).toDF("k", "part"), Seq("k"), 2L))
  }

  test("eq-delete read plan: broadcast anti-join, shuffle-free scan") {
    import spark.implicits._
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    Seq(2L).toDF("k").write.parquet(s"${CommitLog.dataDir(t)}/ek")
    CommitLog.commitTagged(t, Nil, Nil, 1L,
      eqDeletes = Seq(("ek", Seq("k"))))
    // the 100 TB contract: the delete side is O(erasure requests), so
    // it must BROADCAST — a shuffled anti-join would repartition the
    // whole scan to erase a handful of keys
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = CommitLog.read(spark, t)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"eq-delete apply must be a broadcast anti-join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"the scan must stay shuffle-free under an eq delete:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rewriteFiles: deletes applied, a fully deleted candidate dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b")))
    stage(t, "f2", Seq((3L, "c"), (4L, "d"), (5L, "e")))
    CommitLog.commit(t, Seq("f1", "f2"), Nil, 0L)
    // every row of f1 deleted by position, key 3 of f2 by equality
    CommitLog.deleteRows(spark, t, Seq("f1"), col("k") <= 2L).coalesce(1)
      .write.parquet(s"${CommitLog.dataDir(t)}/del")
    CommitLog.commit(t, Nil, Nil, 1L, Map.empty, Seq("del"))
    Seq(3L).toDF("k").write.parquet(s"${CommitLog.dataDir(t)}/ek")
    CommitLog.commitTagged(t, Nil, Nil, 2L, eqDeletes = Seq(("ek", Seq("k"))))
    val before = CommitLog.read(spark, t).collect().toSet
    val (adds, stats) =
      CommitLog.rewriteFiles(spark, t, 3L, Seq("f1", "f2"), "fold_", "k")
    assert(adds === Seq("fold_f2"))
    assert(stats === Map("fold_f2" -> Map("k" -> CommitLog.ColStats("4", "5"))))
    assert(!new File(CommitLog.dataDir(t), "fold_f1").exists(),
      "a candidate left empty must not be written")
    CommitLog.commitTagged(t, adds, Seq("f1", "f2", "del", "ek"), 3L, stats,
      op = Some("replace"))
    assert(CommitLog.liveFiles(t, 4L) === Seq("fold_f2"))
    assert(CommitLog.liveDeleteFiles(t, 4L).isEmpty)
    assert(CommitLog.liveEqDeleteFiles(t, 4L).isEmpty)
    assert(CommitLog.read(spark, t).collect().toSet === before)
  }

  test("collectMeta: manifest-scale collects are bounded and loud") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("k")
    assert(CommitLog.collectMeta(df, "tiny").length === 3)
    val e = intercept[IllegalArgumentException] {
      CommitLog.collectMeta(df, "oversized ledger", maxRows = 2)
    }
    assert(e.getMessage.contains("oversized ledger"))
  }
}
