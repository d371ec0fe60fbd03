package graft


import org.apache.spark.sql.functions._

import graft.storage.CommitLog

/** Snapshot RESTORE (rollback-as-a-new-commit) and the history
  * metadata table: a restore must land exactly on the target's live
  * sets (data, positional-delete, and equality-delete files alike),
  * preserve every earlier snapshot, re-attach the target's pruning
  * stats to re-added files, and render in the change feed as the
  * row-level inverse of the rolled-back commits.
  */
class RestoreSpec extends SparkTestBase {

  private def freshDir(): String =
    sharedTempDir("graft_restore_test").getAbsolutePath

  private def stage(dir: String, rel: String, rows: Seq[(Long, String)])
      : Unit = {
    import spark.implicits._
    rows.toDF("k", "part").write.mode("overwrite")
      .parquet(s"${CommitLog.dataDir(dir)}/$rel")
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  /** f1 (v1), f2 (v2), positional delete of k=3 (v3), f3 (v4). */
  private def buildTable(): String = {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "a")))
    stage(t, "f2", Seq((3L, "b"), (4L, "b")))
    stage(t, "f3", Seq((5L, "c")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commit(t, Seq("f2"), Nil, 1L)
    CommitLog.deleteRows(spark, t, Seq("f2"), col("k") === 3L)
      .write.parquet(s"${CommitLog.dataDir(t)}/del_v3")
    CommitLog.commit(t, Nil, Nil, 2L, Map.empty, Seq("del_v3"))
    CommitLog.commit(t, Seq("f3"), Nil, 3L)
    t
  }

  test("restore lands on the target's live sets; history is preserved") {
    val t = buildTable()
    assert(keys(CommitLog.read(spark, t)) === Set(1L, 2L, 4L, 5L))
    assert(CommitLog.restore(spark, t, 2L) === 5L)
    // head = exactly v2: the delete is undone, the late append gone
    assert(CommitLog.liveFiles(t, 5L) === CommitLog.liveFiles(t, 2L))
    assert(CommitLog.liveDeleteFiles(t, 5L).isEmpty)
    assert(keys(CommitLog.read(spark, t)) === Set(1L, 2L, 3L, 4L))
    // rollback is a NEW commit — every pre-restore snapshot still reads
    assert(keys(CommitLog.read(spark, t, Some(4L))) ===
      Set(1L, 2L, 4L, 5L))
    assert(keys(CommitLog.read(spark, t, Some(3L))) === Set(1L, 2L, 4L))
  }

  test("the restore renders in the change feed as the row-level inverse") {
    val t = buildTable()
    CommitLog.restore(spark, t, 2L)
    val feed = CommitLog.changes(spark, t, 4L, 5L)
      .select(col("_change_type"), col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // k=3 comes back (the v3 delete undone), k=5 goes (the v4 append)
    assert(feed === Set(("insert", 3L), ("delete", 5L)))
    // applying the feed to read(v4) reconstructs read(v5)
    val applied = keys(CommitLog.read(spark, t, Some(4L))) + 3L - 5L
    assert(applied === keys(CommitLog.read(spark, t, Some(5L))))
  }

  test("re-added files get the target's stats back; planScan prunes") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "a")))
    stage(t, "f2", Seq((100L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L,
      Map("f1" -> Map("k" -> CommitLog.ColStats("1", "2"))))
    CommitLog.commit(t, Seq("f2"), Nil, 1L,
      Map("f2" -> Map("k" -> CommitLog.ColStats("100", "100"))))
    CommitLog.commit(t, Nil, Seq("f1"), 2L) // drop f1
    CommitLog.restore(spark, t, 2L) // v4: f1 re-added
    assert(CommitLog.statsAt(t, 4L).get("f1")
      .exists(_("k") === CommitLog.ColStats("1", "2")))
    val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
    val plan = CommitLog.planScan(t, 4L,
      Seq(CommitLog.RangePredicate("k", "100", "101", numCmp)))
    assert(plan.selected === Seq("f2") && plan.noStats.isEmpty)
  }

  test("equality-delete files restore in both directions") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b"), (3L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    import spark.implicits._
    Seq("a").toDF("part").write
      .parquet(s"${CommitLog.dataDir(t)}/eq_v2")
    CommitLog.commitTagged(t, Nil, Nil, 1L,
      eqDeletes = Seq(("eq_v2", Seq("part"))))
    assert(keys(CommitLog.read(spark, t)) === Set(2L))
    // roll the erasure back: the eq file drops from the live set
    CommitLog.restore(spark, t, 1L)
    assert(CommitLog.liveEqDeleteFiles(t, 3L).isEmpty)
    assert(keys(CommitLog.read(spark, t)) === Set(1L, 2L, 3L))
    // and forward again: the eq file is re-published via the E line
    CommitLog.restore(spark, t, 2L)
    assert(CommitLog.liveEqDeleteFiles(t, 4L) ===
      Seq(("eq_v2", Seq("part"))))
    assert(keys(CommitLog.read(spark, t)) === Set(2L))
  }

  test("restore across only a replace rewrite: a legitimate empty feed") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f1b", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitTagged(t, Seq("f1b"), Seq("f1"), 1L,
      op = Some("replace"))
    CommitLog.restore(spark, t, 1L) // sets differ, rows do not
    assert(CommitLog.liveFiles(t, 3L) === Seq("f1"))
    assert(CommitLog.changes(spark, t, 2L, 3L).count() === 0L)
  }

  test("metadata-only restore: no diff computed, the feed refuses") {
    val t = buildTable()
    CommitLog.restore(spark, t, 2L, withChangeset = false)
    // the rollback itself is complete and exact
    assert(keys(CommitLog.read(spark, t)) === Set(1L, 2L, 3L, 4L))
    assert(CommitLog.liveFiles(t, 5L) === CommitLog.liveFiles(t, 2L))
    // history shows the op but no changeset flag
    val h5 = CommitLog.history(spark, t)
      .filter(col("version") === 5L).head()
    assert(h5.getString(2) === "restore v2" && h5.getLong(7) === 0L)
    // the row-level feed across it refuses honestly: the diff was
    // never computed, so consumers must resync from the snapshot
    val e = intercept[IllegalStateException](
      CommitLog.changes(spark, t, 4L, 5L))
    assert(e.getMessage.contains("restore v2") &&
      e.getMessage.contains("resync"))
  }

  test("refusals: range, no-op, and branched logs") {
    val t = buildTable()
    intercept[IllegalArgumentException](CommitLog.restore(spark, t, 0L))
    intercept[IllegalArgumentException](CommitLog.restore(spark, t, 4L))
    intercept[IllegalArgumentException](CommitLog.restore(spark, t, 9L))
    CommitLog.restore(spark, t, 2L)
    // head now equals v2's live sets — restoring there again is a no-op
    intercept[IllegalArgumentException](CommitLog.restore(spark, t, 2L))
    val b = freshDir()
    stage(b, "f1", Seq((1L, "a")))
    stage(b, "f2", Seq((2L, "b")))
    CommitLog.commit(b, Seq("f1"), Nil, 0L)
    CommitLog.createRef(b, "main", 1L)
    CommitLog.commitToRef(b, "main", Seq("f2"), Nil)
    intercept[IllegalArgumentException](CommitLog.restore(spark, b, 1L))
  }

  test("row lineage: first-add commit per row, MOR-aware, restore-stable") {
    val t = buildTable()
    def lin(v: Long): Set[(Long, Long)] =
      CommitLog.readWithLineage(spark, t, Some(v))
        .collect().map(r => (r.getAs[Long]("k"),
          r.getAs[Long]("_commit_version"))).toSet
    // v4: k=3 masked by the v3 positional delete; f3's row tags v4
    assert(lin(4L) === Set((1L, 1L), (2L, 1L), (4L, 2L), (5L, 4L)))
    // after the restore, k=3 is visible again and still tags its
    // FIRST-ADD commit (v2) — lineage is the content's true age, not
    // the rollback's
    CommitLog.restore(spark, t, 2L)
    assert(lin(5L) === Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L)))
  }

  test("history(): one row per commit, ledger counts, changeset flag") {
    val t = buildTable()
    CommitLog.restore(spark, t, 2L)
    val h = CommitLog.history(spark, t)
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(h.toSeq === Seq(
      (1L, 0L, None, 1L, 0L, 0L, 0L, 0L),
      (2L, 1L, None, 1L, 0L, 0L, 0L, 0L),
      (3L, 2L, None, 0L, 0L, 1L, 0L, 0L),
      (4L, 3L, None, 1L, 0L, 0L, 0L, 0L),
      (5L, 4L, Some("restore v2"), 0L, 2L, 0L, 0L, 1L)))
  }
}
