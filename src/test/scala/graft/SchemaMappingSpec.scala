package graft


import org.apache.spark.sql.functions._

import graft.storage.CommitLog

/** Column mapping (rename/drop as metadata over frozen physical
  * names): reads apply the snapshot's own mapping — time travel shows
  * each era under its era's names — while files, delete keys, and
  * stats keep speaking physical names; the mapping survives
  * checkpoints and expiry, and collisions refuse loudly.
  */
class SchemaMappingSpec extends SparkTestBase {

  private def freshDir(): String =
    sharedTempDir("graft_schema_test").getAbsolutePath

  private def stage(dir: String, rel: String, rows: Seq[(Long, String)])
      : Unit = {
    import spark.implicits._
    rows.toDF("k", "part").write.mode("overwrite")
      .parquet(s"${CommitLog.dataDir(dir)}/$rel")
  }

  test("rename is metadata-only; time travel keeps each era's names") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    assert(CommitLog.commitSchemaChange(t,
      Seq("part" -> "segment"), Nil, 1L) === 2L)
    // no data moved: still exactly one physical file
    assert(CommitLog.liveFiles(t, 2L) === Seq("f1"))
    val head = CommitLog.read(spark, t)
    assert(head.columns.toSeq === Seq("k", "segment"))
    assert(head.select(sum(col("k"))).head().getLong(0) === 3L)
    // the pre-rename snapshot still answers to the old name
    assert(CommitLog.read(spark, t, Some(1L)).columns.toSeq ===
      Seq("k", "part"))
  }

  test("renames chain; drop hides a column; both are per-snapshot") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "seg"), Nil, 1L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Nil, 2L)
    assert(CommitLog.read(spark, t).columns.toSeq ===
      Seq("k", "segment"))
    assert(CommitLog.read(spark, t, Some(2L)).columns.toSeq ===
      Seq("k", "seg"))
    CommitLog.commitSchemaChange(t, Nil, Seq("part"), 3L)
    assert(CommitLog.read(spark, t).columns.toSeq === Seq("k"))
    assert(CommitLog.read(spark, t, Some(3L)).columns.toSeq ===
      Seq("k", "segment"))
  }

  test("later appends keep writing physical names under one mapping") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Nil, 1L)
    CommitLog.commit(t, Seq("f2"), Nil, 2L) // physically still `part`
    val head = CommitLog.read(spark, t)
    assert(head.columns.toSeq === Seq("k", "segment"))
    assert(head.count() === 2L)
    assert(head.filter(col("segment") === "b").count() === 1L)
  }

  test("a fold on a renamed-and-dropped table writes physical names") {
    import spark.implicits._
    val t = freshDir()
    val data = CommitLog.dataDir(t)
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "part", "extra").write.parquet(s"$data/f1")
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Seq("extra"),
      1L)
    Seq(2L).toDF("k").write.parquet(s"$data/ek")
    CommitLog.commitTagged(t, Nil, Nil, 2L, eqDeletes = Seq(("ek", Seq("k"))))
    val before = CommitLog.read(spark, t)
    val (cols, rows) = (before.columns.toSeq, before.collect().toSet)
    assert(cols === Seq("k", "segment"))
    val (adds, stats) =
      CommitLog.rewriteFiles(spark, t, 3L, Seq("f1"), "fold_", "k")
    assert(adds === Seq("fold_f1"))
    // the rewrite keeps the frozen physical names, dropped column too
    assert(spark.read.parquet(s"$data/fold_f1").columns.toSeq ===
      Seq("k", "part", "extra"))
    CommitLog.commitTagged(t, adds, Seq("f1", "ek"), 3L, stats,
      op = Some("replace"))
    val after = CommitLog.read(spark, t)
    assert(after.columns.toSeq === cols)
    assert(after.collect().toSet === rows)
  }

  test("the mapping survives checkpoints and snapshot expiry") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    stage(t, "f2", Seq((2L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Nil, 1L)
    CommitLog.commit(t, Seq("f2"), Nil, 2L)
    CommitLog.expireSnapshots(t, 3L) // drops v1/v2, incl. the M manifest
    assert(CommitLog.schemaViewAt(t, 3L) ===
      Seq(("part", Some("segment"))))
    assert(CommitLog.read(spark, t).columns.toSeq ===
      Seq("k", "segment"))
  }

  test("MOR deletes apply on physical names; output is logical") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a"), (2L, "b"), (3L, "b")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Nil, 1L)
    import spark.implicits._
    Seq("b").toDF("part").write // delete keys speak PHYSICAL names
      .parquet(s"${CommitLog.dataDir(t)}/eq_v3")
    CommitLog.commitTagged(t, Nil, Nil, 2L,
      eqDeletes = Seq(("eq_v3", Seq("part"))))
    val head = CommitLog.read(spark, t)
    // the eq anti-join's USING form puts join keys first — compare as
    // a set (read()'s column order after an eq delete is a pre-
    // existing property, not a mapping one)
    assert(head.columns.toSet === Set("k", "segment"))
    assert(head.select(col("k")).collect().map(_.getLong(0)).toSet ===
      Set(1L))
  }

  test("refusals: dropped-column ops, logical-name collisions, empties") {
    val t = freshDir()
    stage(t, "f1", Seq((1L, "a")))
    CommitLog.commit(t, Seq("f1"), Nil, 0L)
    CommitLog.commitSchemaChange(t, Seq("part" -> "segment"), Nil, 1L)
    CommitLog.commitSchemaChange(t, Nil, Seq("k"), 2L)
    intercept[IllegalArgumentException](
      CommitLog.commitSchemaChange(t, Seq("k" -> "key"), Nil, 3L))
    intercept[IllegalArgumentException](
      CommitLog.commitSchemaChange(t, Nil, Seq("k"), 3L))
    intercept[IllegalArgumentException](
      CommitLog.commitSchemaChange(t, Seq("other" -> "segment"), Nil, 3L))
    intercept[IllegalArgumentException](
      CommitLog.commitSchemaChange(t, Nil, Nil, 3L))
    // optimistic concurrency holds for schema commits too
    intercept[CommitLog.CommitConflict](
      CommitLog.commitSchemaChange(t, Seq("part" -> "p2"), Nil, 1L))
  }
}
