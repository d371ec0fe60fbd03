package graft

import java.io.File

import graft.storage.CommitLog

/** Physical-side pins for the executed table-format paths (stor7/
  * stor8): the query oracles prove the RELATIONAL state; these assert
  * what only the filesystem can show — file counts actually dropped,
  * expired files are actually gone, time travel across the rewrite
  * stays intact.
  */
class StorageCompactionSpec extends SparkTestBase {

  private def parquetFilesUnder(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).fold(0)(_.map(walk).sum)
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new File(dir))
  }

  test("stor8: compaction reduces file count, v1 time travel intact") {
    val t = QueriesStorage.stor8Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 2L)
    val before = CommitLog.liveFiles(t, 1L)
    val after = CommitLog.liveFiles(t, 2L)
    assert(before.forall(_.startsWith("file_month=")))
    assert(after.forall(_.startsWith("bin=")))
    assert(after.size < before.size,
      s"compaction must reduce the file count: ${before.size} -> ${after.size}")
    // every live unit is one physical parquet file after compaction
    val dd = CommitLog.dataDir(t)
    after.foreach { rel =>
      assert(parquetFilesUnder(s"$dd/$rel") >= 1) }
    // bit-level integrity across the rewrite: the v1 (month files) and
    // v2 (compacted) snapshots carry the identical multiset
    import org.apache.spark.sql.functions._
    def sig(v: Long) = CommitLog.read(spark, t, Some(v))
      .agg(count(lit(1)), sum(col("l_orderkey")),
        sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")))
      .collect()(0).toSeq
    assert(sig(1L) === sig(2L))
    // nothing expired: the month files are still on disk for v1 reads
    assert(before.forall(rel => new File(dd, rel).exists()))
  }

  test("stor9: increments reconcile to the full table; rewrite refuses") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor9Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 3L)
    // the three increments partition the table: cumulative rows equal
    // a full head-snapshot read, and files never overlap
    val incFiles = (1L to 3L).map(v => CommitLog.addedFiles(t, v - 1, v))
    assert(incFiles.flatten.distinct.size === incFiles.map(_.size).sum,
      "increments must not overlap")
    val incRows = (1L to 3L).map(v =>
      CommitLog.readIncrement(spark, t, v - 1, v).count()).sum
    assert(incRows === CommitLog.read(spark, t).count())
    // a multi-commit range unions the same files as the per-commit reads
    assert(CommitLog.addedFiles(t, 0L, 3L).toSet ===
      incFiles.flatten.toSet)
    // refusal: an increment spanning stor8's REWRITE commit must throw
    // (file-level increments would double-count rewritten rows)
    val rw = QueriesStorage.stor8Table(spark, sf001)
    val e = intercept[IllegalStateException] {
      CommitLog.addedFiles(rw, 1L, 2L)
    }
    assert(e.getMessage.contains("non-append commit"))
    // refusal: a range reaching below the expiry horizon must throw
    val exp = QueriesStorage.stor7Table(spark, sf001)
    intercept[CommitLog.SnapshotExpired] {
      CommitLog.addedFiles(exp, 1L, 4L)
    }
  }

  test("stor10: planning is metadata-only and matches a full scan") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor10Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 1L)
    // every committed file carries both stat columns
    val st = CommitLog.statsAt(t, 1L)
    val live = CommitLog.liveFiles(t, 1L)
    assert(st.keySet === live.toSet)
    assert(st.values.forall(_.keySet === Set("ship", "l_orderkey")))
    val plan = CommitLog.planScan(t, 1L, Seq(
      CommitLog.RangePredicate("ship", "1997-04-15", "1997-06-20")))
    // the ship window prunes real files, and only month files that
    // can't contain the window
    assert(plan.selected.nonEmpty &&
      plan.selected.size < live.size)
    assert(plan.noStats.isEmpty)
    assert(plan.selected.forall { f =>
      val m = f.stripPrefix("file_month=")
      m >= "1997-04-01" && m <= "1997-06-01"
    })
    // the planned scan returns exactly what a full scan would
    val pred = col("ship") >= lit("1997-04-15").cast("date") &&
      col("ship") < lit("1997-06-20").cast("date")
    val planned = CommitLog.readFiles(spark, t, plan.selected)
      .filter(pred).agg(count(lit(1)), sum(col("l_orderkey")))
      .collect()(0).toSeq
    val full = CommitLog.read(spark, t).filter(pred)
      .agg(count(lit(1)), sum(col("l_orderkey"))).collect()(0).toSeq
    assert(planned === full)
  }

  test("stor11: COW delete rewrites only candidates, time travel intact") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor11Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 2L)
    val v1 = CommitLog.liveFiles(t, 1L)
    val v2 = CommitLog.liveFiles(t, 2L)
    // untouched files survive by IDENTITY — same relpath, never rewritten
    val untouched = v1.toSet intersect v2.toSet
    val rewritten = v2.toSet -- v1.toSet
    assert(untouched.nonEmpty && rewritten.nonEmpty)
    assert(rewritten.forall(_.startsWith("rw2_")))
    // the delete window spans three months mid-month to mid-month:
    // April/June survive as rewrites, fully-covered May is dropped
    val candidates = v1.toSet -- untouched
    assert(candidates.size > rewritten.size,
      "at least one fully-deleted file must be dropped, not rewritten")
    // head has no deleted rows; v1 still has them all (COW: originals
    // stay on disk for time travel)
    val win = col("ship") >= lit("1997-04-15").cast("date") &&
      col("ship") < lit("1997-06-20").cast("date")
    assert(CommitLog.read(spark, t).filter(win).count() === 0L)
    assert(CommitLog.read(spark, t, Some(1L)).filter(win).count() > 0L)
    import java.io.File
    val dd = CommitLog.dataDir(t)
    assert(v1.forall(rel => new File(dd, rel).exists()))
    // rewritten stats are TIGHTENED: planning the deleted window at v2
    // opens zero files
    assert(CommitLog.planScan(t, 2L, Seq(CommitLog.RangePredicate(
      "ship", "1997-04-15", "1997-06-20"))).selected.isEmpty)
  }

  test("stor12: schema evolves forward; old snapshots keep old schema") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor12Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 2L)
    // v1: original schema, no trace of the evolved column
    val v1 = CommitLog.read(spark, t, Some(1L))
    assert(v1.columns.sorted ===
      Array("file_month", "l_orderkey", "l_quantity", "ship"))
    // merged head: union schema; nulls EXACTLY on pre-evolution rows
    val head = CommitLog.read(spark, t, None, Map("mergeSchema" -> "true"))
    assert(head.columns.contains("qty_band"))
    val cut = lit("1996-12-01").cast("date")
    assert(head.filter(col("qty_band").isNull &&
      col("file_month") > cut).count() === 0L)
    assert(head.filter(col("qty_band").isNotNull &&
      col("file_month") <= cut).count() === 0L)
    // evolution commits are plain appends: the incremental contract
    // spans the schema change (the increment carries the NEW schema)
    val inc = CommitLog.addedFiles(t, 1L, 2L)
    assert(inc.nonEmpty)
    assert(CommitLog.readFiles(spark, t, inc).columns
      .contains("qty_band"))
  }

  test("stor13: COW merge prunes by key stats; all three DMLs land") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor13Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 2L)
    val v1 = CommitLog.liveFiles(t, 1L)
    val v2 = CommitLog.liveFiles(t, 2L)
    val rewritten = v2.filter(_.startsWith("rw2_"))
    val appended = v2.filter(_.startsWith("ins_"))
    val untouched = v1.toSet.intersect(v2.toSet)
    assert(rewritten.nonEmpty && appended.nonEmpty)
    // key-range layout makes the band prune REAL: most files untouched
    assert(untouched.size > v1.size / 2,
      s"merge must not rewrite the table: ${untouched.size}/${v1.size}")
    val mx = CommitLog.statsAt(t, 1L).values
      .map(_("o_orderkey").max.toLong).max
    val (lo, hi) = (mx / 4L, mx / 4L + mx / 20L)
    val band = col("o_orderkey") >= lo && col("o_orderkey") < hi
    val head = CommitLog.read(spark, t)
    // deletes gone, updates carry price = key, inserts above old max
    assert(head.filter(band && col("o_orderkey") % 3 === 1).count() === 0L)
    assert(head.filter(band && col("o_orderkey") % 3 === 0 &&
      col("o_totalprice") =!= col("o_orderkey").cast("double"))
      .count() === 0L)
    val nIns = head.filter(col("o_orderkey") > mx).count()
    assert(nIns > 0L)
    // time travel: the pre-merge table is byte-identical semantics —
    // deleted keys still present, no inserted keys, prices untouched
    val old = CommitLog.read(spark, t, Some(1L))
    assert(old.filter(band && col("o_orderkey") % 3 === 1).count() > 0L)
    assert(old.filter(col("o_orderkey") > mx).count() === 0L)
    // (not ===0: a synthetic price may coincidentally equal its key)
    assert(old.filter(band && col("o_orderkey") % 3 === 0 &&
      col("o_totalprice") === col("o_orderkey").cast("double")).count() <
      old.filter(band && col("o_orderkey") % 3 === 0).count(),
      "v1 must not show the updated prices")
  }

  test("stor15: MOR delete marks, COW equivalence, fold, size economics") {
    import org.apache.spark.sql.functions._
    def parquetBytesUnder(f: File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).fold(0L)(_.map(parquetBytesUnder).sum)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    val t = QueriesStorage.stor15Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 3L)
    // v2 rewrote NOTHING: the data-file set is IDENTICAL to v1 (same
    // relpaths — no rewrites, no drops), plus exactly one delete file
    assert(CommitLog.liveFiles(t, 2L) === CommitLog.liveFiles(t, 1L))
    assert(CommitLog.liveDeleteFiles(t, 1L).isEmpty)
    assert(CommitLog.liveDeleteFiles(t, 2L) === Seq("del_v2"))
    // the v2 read applies the marks: window rows gone, v1 still whole —
    // and this read runs AFTER the fold commit, so it also pins that
    // time travel to the marked snapshot still applies the delete file
    val win = col("ship") >= lit("1997-04-15").cast("date") &&
      col("ship") < lit("1997-06-20").cast("date")
    assert(CommitLog.read(spark, t, Some(2L)).filter(win).count() === 0L)
    assert(CommitLog.read(spark, t, Some(1L)).filter(win).count() > 0L)
    // COW/MOR equivalence, asserted directly: stor11's COW head and
    // this table's MOR v2 carry the identical relational state for the
    // same delete predicate
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_orderkey"), col("l_quantity"))
        .agg(count(lit(1)), sum(col("l_orderkey")),
          sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")))
        .collect()(0).toSeq
    val cow = QueriesStorage.stor11Table(spark, sf001)
    assert(sig(CommitLog.read(spark, t, Some(2L))) ===
      sig(CommitLog.read(spark, cow)))
    // the FOLD: v3 carries no delete files, fold files replaced every
    // marked candidate, and the visible state is unchanged
    assert(CommitLog.liveDeleteFiles(t, 3L).isEmpty)
    val v3 = CommitLog.liveFiles(t, 3L)
    assert(v3.exists(_.startsWith("fold3_")))
    assert(sig(CommitLog.read(spark, t, Some(3L))) ===
      sig(CommitLog.read(spark, t, Some(2L))))
    // folded stats are tightened: planning the deleted window at v3
    // opens zero files (stor11's closing metadata argument, post-fold)
    assert(CommitLog.planScan(t, 3L, Seq(CommitLog.RangePredicate(
      "ship", "1997-04-15", "1997-06-20"))).selected.isEmpty)
    // incremental reads refuse to cross the D commit: a positional
    // delete retracts rows, so file-level increments would miscount
    val e = intercept[IllegalStateException] {
      CommitLog.addedFiles(t, 1L, 2L)
    }
    assert(e.getMessage.contains("delete"))
    // the 100 TB economics, MEASURED on the workload MOR exists for —
    // a POINT delete (the GDPR-erasure / late-retraction shape): erase
    // ONE orderkey from the v1 snapshot. COW must rewrite every file
    // holding a matching row (measured as those files' physical
    // bytes); MOR writes just the (fpath, pos) pairs. The window
    // delete above is deliberately NOT the size argument: it removes
    // ~2/3 of the candidate rows, the regime where COW's
    // kept-row rewrite is genuinely competitive — point deletes are
    // where rewriting terabytes to remove kilobytes happens.
    val someKey = CommitLog.read(spark, t, Some(1L))
      .agg(min(col("l_orderkey"))).collect()(0).getLong(0)
    val pairs = CommitLog.deleteRows(spark, t,
      CommitLog.liveFiles(t, 1L), col("l_orderkey") === someKey)
    val touched = pairs.select(col("fpath")).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty)
    val cowBytes = touched.map(p => new File(new java.net.URI(p)).length()).sum
    val morBytes = withTempDir("graft_mor_point") { morDir =>
      pairs.coalesce(1).write.mode("overwrite")
        .parquet(s"${morDir.getAbsolutePath}/del")
      parquetBytesUnder(new File(morDir, "del"))
    }
    assert(morBytes > 0L && cowBytes > morBytes * 2,
      s"point-delete MOR must beat COW rewrite bytes: $morBytes vs $cowBytes")
    info(s"point delete of key $someKey: MOR delete file $morBytes B; " +
      f"COW would rewrite $cowBytes B (${cowBytes.toDouble / morBytes}%.1fx)")
  }

  test("stor21: equality delete by key — 3-way parity, fold, economics") {
    import org.apache.spark.sql.functions._
    def parquetBytesUnder(f: File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).fold(0L)(_.map(parquetBytesUnder).sum)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    val t = QueriesStorage.stor21Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 3L)
    // v2 touched NOTHING physical: the data-file set is identical to
    // v1, plus exactly one equality-delete file keyed on k
    assert(CommitLog.liveFiles(t, 2L) === CommitLog.liveFiles(t, 1L))
    assert(CommitLog.liveEqDeleteFiles(t, 1L).isEmpty)
    assert(CommitLog.liveEqDeleteFiles(t, 2L) ===
      Seq(("eq_v2", Seq("k"))))
    val win = col("ship") >= lit("1997-04-15").cast("date") &&
      col("ship") < lit("1997-06-20").cast("date")
    assert(CommitLog.read(spark, t, Some(2L)).filter(win).count() === 0L)
    assert(CommitLog.read(spark, t, Some(1L)).filter(win).count() > 0L)
    // THREE-WAY PARITY, asserted directly: COW head (stor11),
    // positional-MOR v2 (stor15) and equality v2 carry the identical
    // (rows, quantity-cents) state for the same delete window
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)),
        sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")))
        .collect()(0).toSeq
    val eqSig = sig(CommitLog.read(spark, t, Some(2L)))
    assert(eqSig === sig(CommitLog.read(spark,
      QueriesStorage.stor11Table(spark, sf001))))
    assert(eqSig === sig(CommitLog.read(spark,
      QueriesStorage.stor15Table(spark, sf001), Some(2L))))
    // the FOLD: no E files at v3, fold files replaced every candidate
    // with survivors, visible state unchanged, window plans to zero
    assert(CommitLog.liveEqDeleteFiles(t, 3L).isEmpty)
    assert(CommitLog.liveFiles(t, 3L).exists(_.startsWith("fold3_")))
    assert(sig(CommitLog.read(spark, t, Some(3L))) === eqSig)
    assert(CommitLog.planScan(t, 3L, Seq(CommitLog.RangePredicate(
      "ship", "1997-04-15", "1997-06-20"))).selected.isEmpty)
    // v2 time travel still applies the keys after the fold
    assert(CommitLog.read(spark, t, Some(2L)).filter(win).count() === 0L)
    // increments refuse to cross the E commit
    val e = intercept[IllegalStateException] {
      CommitLog.addedFiles(t, 1L, 2L)
    }
    assert(e.getMessage.contains("delete"))
    // the CDF renders the erasure as row-level deletes — exactly the
    // window rows, every one carrying a marked key
    assert(CommitLog.changes(spark, t, 1L, 2L).count() ===
      CommitLog.read(spark, t, Some(1L)).filter(win).count())
    // write-side economics: the equality file is O(keys) bytes where
    // the synchronous COW alternative rewrites every candidate file —
    // measured as the candidates' physical bytes. (vs the POSITIONAL
    // file the ordering is encoding-dependent at this scale: few
    // distinct dictionary-coded paths + delta-coded ordinals can pack
    // tighter than near-random 62-bit keys — the equality form's real
    // edge is needing NO candidate scan to produce, not raw bytes.)
    val eqBytes = parquetBytesUnder(
      new File(CommitLog.dataDir(t), "eq_v2"))
    val candBytes = CommitLog.planScan(t, 1L,
      Seq(CommitLog.RangePredicate("ship", "1997-04-15", "1997-06-20")))
      .selected
      .map(f => parquetBytesUnder(new File(CommitLog.dataDir(t), f)))
      .sum
    assert(eqBytes > 0L && candBytes > eqBytes * 2,
      s"key-file erasure must beat COW rewrite bytes: $eqBytes vs " +
        s"$candBytes")
    val delBytes = parquetBytesUnder(new File(
      CommitLog.dataDir(QueriesStorage.stor15Table(spark, sf001)),
      "del_v2"))
    info(s"window erasure: equality file $eqBytes B, positional " +
      f"$delBytes B, COW would rewrite $candBytes B " +
      f"(${candBytes.toDouble / eqBytes}%.1fx)")
  }

  test("stor16: z-order rewrite is lossless, tightens stats, keeps v1") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor16Table(spark, sf001)
    assert(CommitLog.latestVersion(t) === 2L)
    val v1 = CommitLog.liveFiles(t, 1L)
    val v2 = CommitLog.liveFiles(t, 2L)
    assert(v1.forall(_.startsWith("m_")))
    assert(v2.forall(_.startsWith("z_")) && v2.size === 64)
    // lossless rewrite: identical multiset across the commit
    def sig(v: Long) = CommitLog.read(spark, t, Some(v))
      .agg(count(lit(1)), sum(col("l_orderkey")),
        sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")))
      .collect()(0).toSeq
    assert(sig(1L) === sig(2L))
    // the month files survive on disk for v1 time travel (a rewrite
    // commit retires them from the live set, never deletes bytes)
    val dd = CommitLog.dataDir(t)
    assert(v1.forall(rel => new File(dd, rel).exists()))
    // every z-file carries tightened bounds on BOTH dims
    val st = CommitLog.statsAt(t, 2L)
    assert(st.keySet === v2.toSet)
    assert(st.values.forall(_.keySet === Set("dm", "pk")))
  }

  test("stor7: protocol summary is fully green and matches the log") {
    val t = QueriesStorage.stor7Table(spark, sf001)
    val sm = QueriesStorage.stor7Summary(t)
    assert(sm("version_head") === "4")
    assert(sm("n_conflicts") === "1")
    assert(sm("n_manifests_expired") === "3")
    assert(sm("expired_read_refused") === "true")
    assert(sm("files_physically_gone") === "true")
    // the log agrees with the summary after the fact
    assert(CommitLog.latestVersion(t) === 4L)
    intercept[CommitLog.SnapshotExpired](CommitLog.liveFiles(t, 3L))
    val live = CommitLog.liveFiles(t, 4L)
    assert(live.nonEmpty && live.forall(_ > "file_month=1995-06-30"))
  }

  test("stor17: the bad branch's rows are physically parked off main") {
    import org.apache.spark.sql.functions._
    val t = QueriesStorage.stor17Table(spark, sf001)
    // the ref ledger: main published the GOOD candidate only
    assert(CommitLog.refVersion(t, "main") === 3L)
    assert(CommitLog.refVersion(t, "wap_bad") === 2L)
    assert(CommitLog.isAncestor(t, 2L, CommitLog.refVersion(t, "main"))
      === false)
    // main's head carries ZERO audit-violating rows; the bad branch
    // still resolves (time travel) and is all-violating on its month
    assert(CommitLog.read(spark, t, Some(3L))
      .filter(col("l_quantity") > 100.0).count() === 0L)
    val badRows = CommitLog.read(spark, t, Some(2L))
      .filter(col("l_quantity") > 100.0).count()
    assert(badRows > 0L)
    // the staged bad file exists on disk but is referenced by NO
    // main-lineage manifest — vacuum-eligible, never reader-visible
    assert(new File(CommitLog.dataDir(t), "cand_bad").isDirectory)
    assert(!CommitLog.liveFiles(t, 3L).contains("cand_bad"))
  }

  test("stor18/stor19: manifest attachments match each file's era") {
    val t18 = QueriesStorage.stor18Table(spark, sf001)
    // every committed file carries BOTH the range stats and the bloom
    val st = CommitLog.statsAt(t18, 1L)
    val bl = CommitLog.bloomsAt(t18, 1L)
    val live = CommitLog.liveFiles(t18, 1L)
    assert(st.keySet === live.toSet && bl.keySet === live.toSet)
    assert(bl.values.forall(m => m.keySet === Set("k") &&
      m("k").m === 16384 && m("k").k === 3))
    // partition evolution: old-era files carry ship bounds ONLY, the
    // key-spec era okey bounds ONLY — heterogeneous in one manifest
    val t19 = QueriesStorage.stor19Table(spark, sf001)
    val st19 = CommitLog.statsAt(t19, 2L)
    val (old, nw) = st19.keys.partition(_.startsWith("m_"))
    assert(old.nonEmpty && nw.nonEmpty)
    assert(old.forall(f => st19(f).keySet === Set("ship")))
    assert(nw.forall(f => st19(f).keySet === Set("okey")))
  }
}
