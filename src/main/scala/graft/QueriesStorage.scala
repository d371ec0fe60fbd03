package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.storage.CommitLog
import java.io.File

/** Storage-layout operators (round-11 extension): the physical-design
  * side of the 100 TB story. The rest of the registry asks "is the
  * PLAN right"; this family asks "is the LAYOUT right" — bucketing
  * that removes the shuffle from a fact-fact join, zone maps that let
  * a scan skip files wholesale, and compaction planning that keeps
  * file counts sane. On a 1000-executor cluster these three decisions
  * dominate scan + join cost before a single operator runs.
  *
  * Oracle note: bucketing/layout is an EXECUTION property — the oracle
  * checks the query RESULT (which must be layout-independent), while
  * `PlanAuditSpec` pins the execution property itself (no exchange
  * under the bucketed join).
  */
object QueriesStorage {

  /** Hash of every compiled class in the code source that holds this
    * object (a classes dir under sbt, a jar's class entries otherwise).
    * Builders call code far outside this file — CommitLog in all of
    * them, TextOps.md5Prefix60 in stor22, RelationalOps.zValue2 in
    * stor16 — so the key covers the whole code source. Test classes
    * live in another code source and never move it. Once per JVM.
    */
  private[graft] lazy val codeVersion: String = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(name: String, bytes: Array[Byte]): Unit = {
      md.update(name.getBytes("UTF-8")); md.update(bytes)
    }
    val src = new File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (src.isDirectory) {
      val root = src.toPath
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
        .map(p => (root.relativize(p).toString, p)).toSeq.sortBy(_._1)
        .foreach { case (n, p) =>
          add(n, java.nio.file.Files.readAllBytes(p)) }
      finally walk.close()
    } else {
      val jar = new java.util.jar.JarFile(src)
      try jar.entries().asScala.filter(_.getName.endsWith(".class"))
        .toSeq.sortBy(_.getName)
        .foreach(e => add(e.getName, jar.getInputStream(e).readAllBytes()))
      finally jar.close()
    }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  private object BuildLock

  /** The one build-once primitive of the stor/st scenario tables: the
    * paper's pipeline writes its tables once and every later run reads
    * them. State lives in `${java.io.tmpdir}/graft_<name>/<dir tag>_
    * <fingerprint per source table>_<codeVersion>`, so regenerating a
    * source table at the same path or changing the code both key a
    * fresh dir — no result comes from state written by other code or
    * other data. Under one lock, a dir whose `complete` probe holds is
    * reused; a probe that throws reads as incomplete (a tmp reaper can
    * age single files out of a log). Otherwise the dir is wiped, `build`
    * runs, and a build that leaves its own probe unsatisfied fails
    * here instead of silently rebuilding on every call. Each build
    * logs `[build-once] <name> <secs>s` to stderr.
    */
  private[graft] def buildOnce(d: String, name: String, sources: String*)(
      complete: String => Boolean)(build: String => Unit): String = {
    val key = (d.replaceAll("[^A-Za-z0-9]", "_") +:
      sources.map(CommitLog.srcFingerprint(d, _)) :+ codeVersion)
      .mkString("_")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_$name/$key"
    def done = scala.util.Try(complete(dir)).getOrElse(false)
    BuildLock.synchronized {
      if (!done) {
        val t0 = System.nanoTime()
        CommitLog.deleteRecursively(new File(dir))
        build(dir)
        require(done, s"build-once $name left $dir incomplete")
        System.err.println(
          f"[build-once] $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
    }
    dir
  }

  /** The probe of every builder whose final state is a commit count. */
  private def atVersion(v: Long)(base: String): Boolean =
    CommitLog.latestVersion(base) >= v

  /** stor1's bucketed tables: both sides bucketed(16, sorted) on the
    * order key, written once per build-once key. The catalog names
    * derive from that key, so bench's sf0.001 warmup and sf0.1 timing
    * in one session never cross-read, and a session that finds the
    * files already built registers them instead of rewriting them.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val sides = Seq(
      ("orders", "o_orderkey", () => Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority")),
      ("lineitem", "l_orderkey", () => Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")))
    def table(dir: String, side: String) =
      s"graft_b_${side}_${new File(dir).getName}"
    val dir = buildOnce(d, "bucketed", "orders", "lineitem")(dir =>
      sides.forall(t => new File(s"$dir/${t._1}/_SUCCESS").isFile)) { dir =>
      sides.foreach { case (side, key, df) =>
        s.sql(s"DROP TABLE IF EXISTS ${table(dir, side)}")
        df().write.option("path", s"$dir/$side")
          .bucketBy(16, key).sortBy(key).saveAsTable(table(dir, side))
      }
    }
    sides.foreach { case (side, key, df) =>
      if (!s.catalog.tableExists(table(dir, side)))
        s.sql(s"CREATE TABLE ${table(dir, side)} (${df().schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($key) SORTED BY ($key) " +
          s"INTO 16 BUCKETS LOCATION '$dir/$side'")
    }
    (table(dir, "orders"), table(dir, "lineitem"))
  }

  /** The sorted `prefix...` directory names under `dataDir`. */
  private def listDirs(dataDir: String, prefix: String): Seq[String] =
    Option(new File(dataDir).listFiles())
      .fold(Seq.empty[String])(_.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .map(_.getName)).sorted

  /** De-Hive a partitioned write: rename every `prefix<v>` dir under
    * `dataDir` to `plain(v)`, so files rewritten later share one
    * (non-partitioned) read schema with the originals. Returns the
    * plain names in the listing order of the Hive names.
    */
  private def deHive(dataDir: String, prefix: String)(
      plain: String => String): Seq[String] =
    listDirs(dataDir, prefix).map { hive =>
      val p = plain(hive.stripPrefix(prefix))
      require(new File(dataDir, hive).renameTo(new File(dataDir, p)),
        s"rename $hive -> $p failed")
      p
    }

  /** Stage lineitem as one parquet dir per ship month under `dataDir`
    * — the month-file layout the stor6+ table-format family commits —
    * returning the sorted `file_month=...` dir names.
    */
  private def stageMonthFiles(s: SparkSession, d: String,
      dataDir: String): Seq[String] = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_shipdate").cast("date").as("ship"),
        date_trunc("month", col("l_shipdate")).cast("date")
          .as("file_month"))
      .write.partitionBy("file_month").parquet(dataDir)
    listDirs(dataDir, "file_month=")
  }

  /** stor5's encoding matrix: codec × dictionary. */
  private val EncVariants: Seq[(String, String)] = Seq(
    ("uncompressed", "true"), ("uncompressed", "false"),
    ("snappy", "true"), ("snappy", "false"),
    ("zstd", "true"), ("zstd", "false"))

  /** Build-once cache for stor5's encoded copies of lineitem (one
    * parquet dir per codec × dictionary variant), stor1's discipline:
    * pay the write once, amortize over every read. Measured on-disk
    * bytes per variant are logged to stderr at build time (the size
    * tradeoff is an ARTIFACT — see BASELINE.md — not an
    * oracle-checkable value: DuckDB's writer produces different files).
    */
  private def encodedPaths(s: SparkSession,
      d: String): Seq[(String, Boolean, String)] = {
    def path(base: String, codec: String, dict: String) =
      s"$base/${codec}_dict$dict"
    val base = buildOnce(d, "encoded", "lineitem")(base =>
      EncVariants.forall { case (codec, dict) =>
        new File(path(base, codec, dict), "_SUCCESS").isFile }) { base =>
      EncVariants.foreach { case (codec, dict) =>
        val out = path(base, codec, dict)
        s.read.parquet(s"$d/lineitem.parquet").write
          .option("compression", codec)
          // passed through to the parquet writer's hadoop conf
          .option("parquet.enable.dictionary", dict)
          .parquet(out)
        val bytes = Option(new File(out).listFiles())
          .fold(0L)(_.filter(_.getName.endsWith(".parquet"))
            .map(_.length()).sum)
        System.err.println(
          s"[stor5] $codec dict=$dict data_bytes=$bytes")
      }
    }
    EncVariants.map { case (codec, dict) =>
      (codec, dict.toBoolean, path(base, codec, dict)) }
  }

  /** stor6's physical snapshot layout: lineitem written ONCE
    * partitioned by ship-month — the month-file model stor2/stor3
    * analyze, made real so the as-of reader's pruning is a measurable
    * scan property, not arithmetic. Build-once, stor1's economics (pay
    * the write once, amortize over every read).
    */
  private def snapshotPath(s: SparkSession, d: String): String =
    buildOnce(d, "snap", "lineitem")(new File(_, "_SUCCESS").isFile) {
      stageMonthFiles(s, d, _): Unit
    }

  /** stor6's synthetic commit timeline over the month-files — the
    * manifest columns every table format keeps (Iceberg/Delta shape):
    * v1 committed history ≤ 1996-12, v2 appended 1997-1998, v3
    * appended 1999+ AND expired the ≤ 1995-06 files (retention —
    * cutoffs sit inside this corpus's 1995-01..2001-11 ship span so
    * every commit is non-empty). Both are pure
    * functions of the partition value, so the as-of reader's liveness
    * test is a PARTITION-COLUMN predicate — pruned at planning time
    * with no manifest collect (PlanAuditSpec pins PartitionFilters on
    * the scan).
    */
  /** stor7's protocol run — the WRITE half of the table-format story
    * (VERDICT r15 #1), executed ONCE per build-once key against
    * the real [[graft.storage.CommitLog]] and summarized to a marker
    * file so later invocations (and bench passes) re-read final state
    * instead of re-running the protocol. The timeline mirrors stor6's
    * modeled manifest, but every step here is EXECUTED:
    *
    *   1. stage ALL month files (written first, invisible — no commit
    *      names them yet);
    *   2. commit v1 = history ≤ 1996-12;
    *   3. TWO CONCURRENT committers (1997-1998 vs 1999+), barrier-
    *      synchronized so both base on v1 and race for v2: the winner
    *      links v2, the loser gets CommitConflict, refreshes, retries,
    *      commits v3 — exactly one conflict, final state independent
    *      of who wins;
    *   4. commit v4 = retention delete of the ≤ 1995-06 files;
    *   5. expire snapshots below v4: checkpoint v4's live set, drop
    *      manifests v1-v3, PHYSICALLY delete the month files only the
    *      expired snapshots referenced;
    *   6. prove the guard: time travel to v2 must refuse
    *      (SnapshotExpired), and the deleted files must be gone from
    *      disk.
    */
  private[graft] def stor7Table(s: SparkSession, d: String): String =
    buildOnce(d, "commitlog", "lineitem")(summaryFile(_).isFile) { base =>
      val dataDir = CommitLog.dataDir(base)
      // classify the staged month dirs by their partition value
      val months = stageMonthFiles(s, d, dataDir)
        .map(n => (n, n.stripPrefix("file_month=")))
      def upTo(cut: String) = months.filter(_._2 <= cut).map(_._1)
      val b1 = upTo("1996-12-31")
      val b2 = months.filter(m => m._2 > "1996-12-31" &&
        m._2 <= "1998-12-31").map(_._1)
      val b3 = months.filter(_._2 > "1998-12-31").map(_._1)
      val retention = upTo("1995-06-30")
      require(b1.nonEmpty && b2.nonEmpty && b3.nonEmpty &&
        retention.nonEmpty, s"unexpected ship-month span in $d")
      CommitLog.commit(base, b1, Nil, 0L)
      // two concurrent committers, both based on v1, racing for v2
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(b2, b3).map { batch =>
        new Thread(() => {
          try {
            val expected = CommitLog.latestVersion(base) // both see v1
            barrier.await()
            try { CommitLog.commit(base, batch, Nil, expected); () }
            catch {
              case _: CommitLog.CommitConflict =>
                conflicts.incrementAndGet()
                // refresh to the winner's snapshot, retry at the head
                CommitLog.commit(base, batch, Nil,
                  CommitLog.latestVersion(base)): Unit
            }
          } catch { case t: Throwable => errs.add(t): Unit }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      // v4: retention delete of the oldest files
      CommitLog.commit(base, Nil, retention, 3L)
      val (nExpired, nDeleted) = CommitLog.expireSnapshots(base, 4L)
      val refused =
        try { CommitLog.liveFiles(base, 2L); false }
        catch { case _: CommitLog.SnapshotExpired => true }
      val gone = retention.forall(r =>
        !new File(dataDir, r).exists())
      val body = Seq(
        s"version_head=${CommitLog.latestVersion(base)}",
        s"n_conflicts=${conflicts.get()}",
        s"n_manifests_expired=$nExpired",
        s"n_files_deleted=$nDeleted",
        s"expired_read_refused=$refused",
        s"files_physically_gone=$gone").mkString("", "\n", "\n")
      // atomic: the summary is the build-once probe, so a torn
      // write must read as "incomplete", never as a wedge
      CommitLog.writeAtomic(summaryFile(base), body)
    }

  private def summaryFile(base: String) =
    new File(base, "_protocol_summary.txt")

  /** stor8's compaction run (VERDICT r15 #2 — stor3's plan, EXECUTED):
    * its own table instance (stor7's mutates/expires; this one stays
    * append+rewrite so both timelines are deterministic). v1 commits
    * the raw month files; the stor3 bin-pack plan is computed from the
    * v1 snapshot (one metadata-scale aggregate over O(files) rows),
    * broadcast into the rewrite (each row gets its bin by a broadcast
    * join on file_month — the plan is metadata, the rewrite is the
    * cluster-wide job, exactly the stor3 economics), and v2 is the
    * REWRITE commit: adds the per-bin compacted files, removes every
    * month file. Nothing is expired — time travel to v1 must still
    * return the identical table (pinned in StorageCompactionSpec along
    * with the physical file-count drop).
    */
  private[graft] def stor8Table(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.expressions.Window
    def marker(base: String) = new File(base, "_compaction_summary.txt")
    buildOnce(d, "compact", "lineitem")(marker(_).isFile) { base =>
      val dataDir = CommitLog.dataDir(base)
      val months = stageMonthFiles(s, d, dataDir)
      CommitLog.commit(base, months, Nil, 0L)
      // stor3's plan, from the committed snapshot: est 64 B/row,
      // 4 MB target, running-sum admission over month order
      val snap = CommitLog.read(s, base)
      val w = Window.orderBy(col("file_month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Same admission discipline as stor3's 4 MB plan; 1 MiB target
      // here so the EXECUTED rewrite demonstrably merges multiple
      // groups at every correctness scale (sf0.01's whole table is
      // under 4 MB estimated — one bin would make the prune flag and
      // the merge count trivial).
      val plan = snap.groupBy("file_month")
        .agg((count(lit(1)) * 64L).as("est_bytes"))
        .withColumn("end_off", sum(col("est_bytes")).over(w))
        .withColumn("bin",
          ((col("end_off") - col("est_bytes")) / (1024L * 1024))
            .cast("long"))
        .select("file_month", "bin")
      snap.join(broadcast(plan), "file_month")
        .select(col("l_orderkey"), col("l_quantity"), col("ship"),
          col("file_month"), col("bin"))
        .write.mode("append").partitionBy("bin").parquet(dataDir)
      val bins = listDirs(dataDir, "bin=")
      CommitLog.commit(base, bins, months, 1L)
      CommitLog.writeAtomic(marker(base),
        s"n_files_before=${months.size}\nn_files_after=${bins.size}\n")
    }
  }

  /** stor9's table: the stor7 timeline WITHOUT the destructive tail —
    * three pure APPEND commits (history ≤ 1996-12, 1997-1998, 1999+)
    * over the month-file layout, built once by [[buildOnce]].
    * Kept separate from stor7's (which expires history) and stor8's
    * (which rewrites it) so the incremental contract is demonstrated
    * over the append-only history it is defined on.
    */
  private[graft] def stor9Table(s: SparkSession, d: String): String =
    buildOnce(d, "incr", "lineitem")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val months = stageMonthFiles(s, d, dataDir)
      def in(lo: String, hi: String) = months.filter { m =>
        val v = m.stripPrefix("file_month="); v > lo && v <= hi }
      CommitLog.commit(base, in("", "1996-12-31"), Nil, 0L)
      CommitLog.commit(base, in("1996-12-31", "1998-12-31"), Nil, 1L)
      CommitLog.commit(base, in("1998-12-31", "9999-12-31"), Nil, 2L)
    }

  /** stor10's table: the month-file layout committed ONCE with
    * per-file column stats in the manifest (ship min/max + orderkey
    * min/max — the Iceberg lower/upper-bounds idea), so scan planning
    * can skip files from metadata alone. Built once by [[buildOnce]];
    * the stats aggregate is ONE metadata-scale job
    * (O(files) output rows).
    */
  private[graft] def stor10Table(s: SparkSession, d: String): String =
    buildOnce(d, "statscan", "lineitem")(atVersion(1L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      stageMonthFiles(s, d, dataDir): Unit
      // per-file manifest stats: one aggregate, O(files) rows —
      // bounded collect (CommitLog.collectMeta) keeps the metadata
      // plane loud if ever pointed at a 10⁶-file table
      val stats = CommitLog.collectMeta(s.read.parquet(dataDir)
        .groupBy("file_month")
        .agg(min(col("ship")).as("mn_s"), max(col("ship")).as("mx_s"),
          min(col("l_orderkey")).as("mn_k"),
          max(col("l_orderkey")).as("mx_k")), "stor10 manifest stats")
        .map { r =>
          val file = s"file_month=${r.getDate(0)}"
          file -> Map(
            "ship" -> CommitLog.ColStats(
              r.getDate(1).toString, r.getDate(2).toString),
            "l_orderkey" -> CommitLog.ColStats(
              r.getLong(3).toString, r.getLong(4).toString))
        }.toMap
      CommitLog.commit(base, stats.keys.toSeq, Nil, 0L, stats)
    }

  /** Commit v1 of a month-file table staged under `base`'s data dir:
    * the `file_month=<m>` dirs are de-Hived to `m_<m>` (the delete
    * scenarios' rewrites must share one read schema with the
    * originals) and each carries its ship (min, max) in the manifest.
    */
  private def commitShipMonths(s: SparkSession, base: String): Unit = {
    val dataDir = CommitLog.dataDir(base)
    val stats = CommitLog.collectMeta(s.read.parquet(dataDir)
      .groupBy("file_month").agg(min(col("ship")), max(col("ship"))),
      s"ship stats of $base")
      .map { r =>
        s"m_${r.getDate(0)}" -> Map("ship" -> CommitLog.ColStats(
          r.getDate(1).toString, r.getDate(2).toString))
      }.toMap
    CommitLog.commit(base, deHive(dataDir, "file_month=")("m_" + _), Nil,
      0L, stats)
  }

  /** stor11's table: month files as plain directories (no Hive `k=v`
    * encoding — rewritten files must coexist with originals in one
    * read) committed with ship stats, then a COPY-ON-WRITE DELETE run
    * through the log: plan the candidate files from manifest stats,
    * rewrite ONLY those through [[graft.storage.CommitLog.rewriteFiles]]
    * (a candidate whose rows are all deleted is dropped), commit v2 =
    * add rewrites (with tightened stats) / remove candidates. Built once
    * by [[buildOnce]].
    */
  private[graft] val CowLo = "1997-04-15"
  private[graft] val CowHi = "1997-06-20" // end-exclusive
  private[graft] def stor11Table(s: SparkSession, d: String): String =
    buildOnce(d, "cow", "lineitem")(atVersion(2L)) { base =>
      stageMonthFiles(s, d, CommitLog.dataDir(base)): Unit
      commitShipMonths(s, base)
      // --- the COW delete ---
      val pred = CommitLog.RangePredicate("ship", CowLo, CowHi)
      val cands = CommitLog.planScan(base, 1L, Seq(pred)).selected
      val keepCond = col("ship") < lit(CowLo).cast("date") ||
        col("ship") >= lit(CowHi).cast("date")
      val (adds, statsAdd) = CommitLog.rewriteFiles(s, base, 1L, cands,
        "rw2_", "ship", _.filter(keepCond))
      CommitLog.commit(base, adds, cands, 1L, statsAdd)
    }

  /** stor12's table: SCHEMA EVOLUTION through the commit log — v1
    * commits pre-1997 months under the original 3-column schema, v2
    * appends later months that CARRY A NEW COLUMN (`qty_band`). The
    * log is schema-agnostic (files are opaque); evolution is a
    * read-side contract: merged reads surface the union schema with
    * nulls for pre-evolution rows, and time travel to v1 serves the
    * ORIGINAL schema untouched. Built once by [[buildOnce]].
    */
  private[graft] def stor12Table(s: SparkSession, d: String): String =
    buildOnce(d, "schemaevo", "lineitem")(atVersion(2L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val cut = lit("1996-12-01").cast("date")
      val src = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_shipdate").cast("date").as("ship"),
          date_trunc("month", col("l_shipdate")).cast("date")
            .as("file_month"))
      def dirs() = listDirs(dataDir, "file_month=")
      src.filter(col("file_month") <= cut)
        .write.partitionBy("file_month").parquet(dataDir)
      val old = dirs()
      CommitLog.commit(base, old, Nil, 0L)
      // the evolved writer: later months gain `qty_band`
      src.filter(col("file_month") > cut)
        .withColumn("qty_band",
          when(col("l_quantity") < 25, "lo").otherwise("hi"))
        .write.mode("append").partitionBy("file_month").parquet(dataDir)
      CommitLog.commit(base, dirs().diff(old), Nil, 1L)
    }

  /** stor13's table: orders laid out in CONTIGUOUS KEY-RANGE files —
    * the layout that gives key-predicate stats real pruning power
    * (month files span the whole key range; ~20 key buckets don't) —
    * then a COPY-ON-WRITE MERGE run through the log. The changeset is
    * deterministic band arithmetic over a RANK-derived key band: lo =
    * (the key at ascending rank n/4) + 1, hi = (the key at rank
    * n/4 + n/20) + 1, so the band [lo, hi) covers ~5% of PRESENT rows
    * at any key sparsity (the old value-derived [mx/4, mx/4+mx/20)
    * matched ZERO keys on sf1's striped sparse domain — a silent
    * merge no-op). Band keys are updated (k % 3 == 0 → price := k),
    * deleted (k % 3 == 1), or seed inserts (k % 3 == 2 → new row at
    * key mx + k, price k). Candidate files come from
    * [[graft.storage.CommitLog.planScan]] on the key band; ONLY those
    * are rewritten with updates/deletes applied
    * ([[graft.storage.CommitLog.rewriteFiles]]), inserts land as one
    * appended file through the rewrite's per-file writer
    * ([[graft.storage.CommitLog.writeWithStats]]), and a single commit
    * publishes all of it with tightened stats. Built once by
    * [[buildOnce]].
    */
  private[graft] def stor13Table(s: SparkSession, d: String): String =
    buildOnce(d, "merge", "orders")(atVersion(2L)) { base =>
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      val dataDir = CommitLog.dataDir(base)
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val step = (mx + 19L) / 20L
      orders
        .withColumn("bucket",
          ((col("o_orderkey") - 1) / step).cast("long"))
        .write.partitionBy("bucket").parquet(dataDir)
      // partition-dir inference types `bucket` as INT — normalize
      val st = CommitLog.collectMeta(s.read.parquet(dataDir)
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(min(col("o_orderkey")).as("mn"),
          max(col("o_orderkey")).as("mxk")), "stor13 manifest stats")
        .map(r => s"b_${r.getLong(0)}" -> Map("o_orderkey" ->
          CommitLog.ColStats(r.getLong(1).toString,
            r.getLong(2).toString))).toMap
      // de-Hive (stor11's discipline): rewrites must coexist with
      // originals under one read schema
      CommitLog.commit(base, deHive(dataDir, "bucket=")("b_" + _), Nil, 0L,
        st)
      // --- the MERGE ---
      // rank-derived band bounds: the key at ascending rank r, via
      // orderBy+limit(r)+max — exact (keys are distinct), identical
      // to the oracle's row_number form, and sparsity-proof
      val nOrd = orders.count()
      def keyAtRank(r: Long): Long = orders
        .orderBy(col("o_orderkey")).limit(r.toInt)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val bandLo = keyAtRank(nOrd / 4L) + 1L
      val bandHi = keyAtRank(nOrd / 4L + nOrd / 20L) + 1L
      val inBand = col("o_orderkey") >= bandLo &&
        col("o_orderkey") < bandHi
      val cands = CommitLog.planScan(base, 1L, Seq(
        CommitLog.RangePredicate("o_orderkey", bandLo.toString,
          bandHi.toString, numCmp))).selected
      val (adds, statsAdd) = CommitLog.rewriteFiles(s, base, 1L, cands,
        "rw2_", "o_orderkey", _
          .filter(!(inBand && col("o_orderkey") % 3 === 1)) // deletes
          .withColumn("o_totalprice",
            when(inBand && col("o_orderkey") % 3 === 0,
              col("o_orderkey").cast("double")) // updates
              .otherwise(col("o_totalprice"))))
      // inserts: brand-new keys above mx, one appended file
      val ins = CommitLog.read(s, base)
        .filter(inBand && col("o_orderkey") % 3 === 2)
        .select((col("o_orderkey") + mx).as("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"))
      val insAdd = CommitLog.writeWithStats(base, "ins_v2", "o_orderkey", ins)
      // CHANGESET (VERDICT r17 #2): the writer KNOWS each logical
      // change while it computes the merge — record them as one tiny
      // attachment (table columns + _change_type) so the change feed
      // renders this COW rewrite as update preimage/postimage pairs
      // instead of refusing. O(changed rows) bytes, written from the
      // same expressions as the rewrite (bit-identical values).
      val pre = CommitLog.read(s, base)
      val updPre = pre.filter(inBand && col("o_orderkey") % 3 === 0)
      (pre.filter(inBand && col("o_orderkey") % 3 === 1)
        .withColumn("_change_type", lit("delete")))
        .unionByName(updPre
          .withColumn("_change_type", lit("update_preimage")))
        .unionByName(updPre
          .withColumn("o_totalprice",
            col("o_orderkey").cast("double"))
          .withColumn("_change_type", lit("update_postimage")))
        .unionByName(ins.withColumn("_change_type", lit("insert")))
        .coalesce(1).write.parquet(s"$dataDir/cs_v2")
      CommitLog.commitTagged(base, adds ++ insAdd.map(_._1), cands, 1L,
        statsAdd ++ insAdd, op = Some("merge"),
        changeset = Some("cs_v2"))
    }

  /** stor24/stor25's table: orders in month-partitioned files driven
    * through a 5-commit lifecycle ending in a ROLLBACK — v1/v2 append
    * eras A (< 1998 — this synthetic orders spans 1995..2001-08, not
    * classic TPC-H) and B (1998), v3 positionally deletes era-B rows
    * with `o_orderkey % 7 == 0` (merge-on-read, one delete file, no
    * rewrite), v4 appends era C (1999), and v5 RESTORES to v2: the
    * bad-deploy recovery move (Delta RESTORE / Iceberg rollback) that
    * must undo BOTH the delete and the late append in one atomic
    * metadata commit — files re-referenced, never copied — while
    * leaving v1–v4 readable and rendering in the change feed as the
    * row-level inverse (the deleted band re-inserted, era C deleted).
    * Built once by [[buildOnce]].
    */
  private[graft] def stor24Table(s: SparkSession, d: String): String =
    buildOnce(d, "restore", "orders")(atVersion(5L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("odate"),
          date_trunc("month", col("o_orderdate")).cast("date")
            .as("omonth"))
      def dirs() = listDirs(dataDir, "omonth=")
      val cutA = lit("1998-01-01").cast("date")
      val cutB = lit("1999-01-01").cast("date")
      val cutC = lit("2000-01-01").cast("date")
      src.filter(col("omonth") < cutA)
        .write.partitionBy("omonth").parquet(dataDir)
      val eraA = dirs()
      CommitLog.commit(base, eraA, Nil, 0L)
      src.filter(col("omonth") >= cutA && col("omonth") < cutB)
        .write.mode("append").partitionBy("omonth").parquet(dataDir)
      val eraB = dirs().diff(eraA)
      CommitLog.commit(base, eraB, Nil, 1L)
      CommitLog.deleteRows(s, base, eraB, col("o_orderkey") % 7 === 0)
        .write.parquet(s"$dataDir/del_v3")
      CommitLog.commit(base, Nil, Nil, 2L, Map.empty, Seq("del_v3"))
      src.filter(col("omonth") >= cutB && col("omonth") < cutC)
        .write.mode("append").partitionBy("omonth").parquet(dataDir)
      CommitLog.commit(base, dirs().diff(eraA ++ eraB), Nil, 3L)
      CommitLog.restore(s, base, 2L): Unit
    }

  /** stor26's table: 1997 orders in month files driven through two
    * COW delete rewrites, then TAG-PINNED RETENTION — v1 appends the
    * 12 month dirs, v2 rewrites Jan–Jun applying an erasure
    * (`o_orderkey % 5 == 0` dropped), v3 rewrites those files AGAIN
    * (`% 3 == 0` dropped from the remainder); tag `raw` pins v1, ref
    * `main` marks the head, and `expireSnapshots(3)` runs AT BUILD
    * TIME so the steady-state table is post-expiry: the pinned v1
    * resolves forever (originals kept on disk for the audit tag), the
    * untagged v2 is gone, and v2's intermediate rewrite files — live
    * ONLY there — are physically reclaimed. Built once by
    * [[buildOnce]]; the expiry is idempotent, so a rebuild race
    * re-lands the same state.
    */
  private[graft] def stor26Table(s: SparkSession, d: String): String =
    buildOnce(d, "tagretain", "orders")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("odate"),
          date_trunc("month", col("o_orderdate")).cast("date")
            .as("omonth"))
        .filter(year(col("odate")) === 1997)
      // plain per-month file names (m_01..m_12), with omonth kept as
      // a DATA column: COW rewrites must coexist with originals
      // under one read schema, and Hive-style `omonth=` dirs mixed
      // with plain rewrite files trip Spark's partition-discovery
      // conflict (stor11's de-Hive discipline, applied at write)
      val eraA = (1 to 12).map { m =>
        val out = f"m_$m%02d"
        src.filter(month(col("omonth")) === m)
          .write.parquet(s"$dataDir/$out")
        out
      }
      CommitLog.commit(base, eraA, Nil, 0L)
      val half = eraA.filter(_.stripPrefix("m_").toInt <= 6)
      val rw1 = half.zipWithIndex.map { case (f, i) =>
        val out = s"rw1_$i"
        CommitLog.readFiles(s, base, Seq(f))
          .filter(!(col("o_orderkey") % 5 === 0))
          .write.parquet(s"$dataDir/$out")
        out
      }
      CommitLog.commit(base, rw1, half, 1L)
      val rw2 = rw1.zipWithIndex.map { case (f, i) =>
        val out = s"rw2_$i"
        CommitLog.readFiles(s, base, Seq(f))
          .filter(!(col("o_orderkey") % 3 === 0))
          .write.parquet(s"$dataDir/$out")
        out
      }
      CommitLog.commit(base, rw2, rw1, 2L)
      CommitLog.createRef(base, "raw", 1L)
      CommitLog.createRef(base, "main", 3L)
      CommitLog.expireSnapshots(base, 3L): Unit
    }

  /** stor28's table: orders through a COLUMN-MAPPING lifecycle — v1
    * appends 1997 (physical columns `o_orderkey, o_totalprice,
    * odate`), v2 RENAMES `o_totalprice` → `price` (metadata-only; no
    * file touched), v3 appends 1998 still writing the frozen PHYSICAL
    * name (the writer-side contract that keeps every era's files
    * byte-compatible), v4 DROPS `odate`. Head reads serve
    * `(o_orderkey, price)` across both eras; time travel serves v1
    * under its own era's names. Built once by [[buildOnce]].
    */
  private[graft] def stor28Table(s: SparkSession, d: String): String =
    buildOnce(d, "colmap", "orders")(atVersion(4L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      def era(y: Int) = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("odate"))
        .filter(year(col("odate")) === y)
      era(1997).write.parquet(s"$dataDir/p1")
      CommitLog.commit(base, Seq("p1"), Nil, 0L)
      CommitLog.commitSchemaChange(base,
        Seq("o_totalprice" -> "price"), Nil, 1L)
      era(1998).write.parquet(s"$dataDir/p2")
      CommitLog.commit(base, Seq("p2"), Nil, 2L)
      CommitLog.commitSchemaChange(base, Nil, Seq("odate"), 3L): Unit
    }

  /** stor29's table: orders 1997 + a ONE-COMMIT MOR UPSERT (the Hudi
    * merge-on-read upsert / Iceberg eq-delete-plus-data-file shape):
    * v2 publishes the batch file AND its keys as an equality delete
    * in one atomic commit — updates (`k % 10 == 0` → price := k) mask
    * their old versions by KEY (no position scan, no rewrite) while
    * the batch's own rows survive under the sequence rule (an eq
    * delete applies only to strictly older files); inserts land as
    * brand-new keys (`mx + k` for `k % 10 == 5`, price := k). At
    * 100 TB this is the low-latency upsert path: O(batch) bytes
    * written synchronously, the rewrite deferred to compaction.
    * Built once by [[buildOnce]].
    */
  private[graft] def stor29Table(s: SparkSession, d: String): String =
    buildOnce(d, "upsert", "orders")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val o97 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .filter(year(col("o_orderdate")) === 1997)
      o97.write.parquet(s"$dataDir/p1")
      CommitLog.commit(base, Seq("p1"), Nil, 0L)
      val mx = Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val updates = o97.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"))
      val inserts = o97.filter(col("o_orderkey") % 10 === 5)
        .select((col("o_orderkey") + mx).as("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"))
      val batch = updates.unionByName(inserts)
      batch.write.parquet(s"$dataDir/up_v2")
      batch.select(col("o_orderkey")).coalesce(1)
        .write.parquet(s"$dataDir/ek_v2")
      CommitLog.commitTagged(base, Seq("up_v2"), Nil, 1L,
        eqDeletes = Seq(("ek_v2", Seq("o_orderkey"))))
      // v3: the FOLD — materialize the upsert into one compacted
      // file, retiring the eq-delete file and both data files in a
      // single `replace` commit (identical logical rows, so the
      // change feed renders it as a no-op): the deferred rewrite
      // that restores the zero-anti-join scan
      CommitLog.read(s, base, Some(2L)).coalesce(1)
        .write.parquet(s"$dataDir/fold_v3")
      CommitLog.commitTagged(base, Seq("fold_v3"),
        Seq("p1", "up_v2", "ek_v2"), 2L, op = Some("replace")): Unit
    }

  /** stor15's table: the same de-Hived month layout and delete window
    * as stor11, but the delete is MERGE-ON-READ (VERDICT r16 #1 — the
    * one remaining table-format gap): v2 publishes ONE positional
    * delete file (the (fpath, pos) identity of every row in the
    * [CowLo, CowHi) ship window, computed from the planScan candidate
    * files' metadata columns — no data rewritten), and v3 is the FOLD:
    * [[graft.storage.CommitLog.rewriteFiles]] of only the candidate
    * files, read at v2 with its marks applied (a file left empty is
    * dropped), removing the delete file in the same atomic commit —
    * restoring the zero-overhead scan. At 100 TB the contrast with
    * stor11's COW is the point: the delete itself writes O(rows
    * deleted) bytes instead of rewriting O(candidate files), and the
    * rewrite cost moves into the compaction window where it is
    * amortized and scheduled, not paid synchronously on the erasure
    * request. Built once by [[buildOnce]].
    */
  private[graft] def stor15Table(s: SparkSession, d: String): String =
    buildOnce(d, "mor", "lineitem")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      stageMonthFiles(s, d, dataDir): Unit
      commitShipMonths(s, base)
      // --- v2: the MOR delete — one tiny delete file, zero rewrites
      val pred = CommitLog.RangePredicate("ship", CowLo, CowHi)
      val cands = CommitLog.planScan(base, 1L, Seq(pred)).selected
      val delPred = col("ship") >= lit(CowLo).cast("date") &&
        col("ship") < lit(CowHi).cast("date")
      CommitLog.deleteRows(s, base, cands, delPred)
        .coalesce(1) // O(rows deleted) pairs — one small file
        .write.parquet(s"$dataDir/del_v2")
      CommitLog.commit(base, Nil, Nil, 1L, Map.empty, Seq("del_v2"))
      // --- v3: the FOLD — rewrite only the candidate files with v2's
      // marks applied, drop empties, retire the delete file; one
      // atomic commit
      val (adds, statsAdd) =
        CommitLog.rewriteFiles(s, base, 2L, cands, "fold3_", "ship")
      // tagged `replace`: the fold is a PHYSICAL rewrite (marks
      // applied, no logical row change beyond what v2 already
      // retracted) — the tag is what lets the st13 change feed
      // render this commit as zero change rows instead of refusing
      CommitLog.commitTagged(base, adds, cands :+ "del_v2", 2L,
        statsAdd, op = Some("replace"))
    }

  /** stor16's table: Z-ORDER-AWARE COMPACTION through the commit log
    * (VERDICT r16 #3 — stor4's *measured* z-order benefit unified with
    * stor8's *executed* rewrite). v1 commits the ship-month layout
    * with per-file (dm, pk) bounds in the manifest — the linear
    * clustering every ingest-ordered table starts with: dm (ship day)
    * bounds are tight per month, pk (partkey) bounds span the whole
    * domain in every file. v2 is the compaction rewrite: the SAME rows
    * re-sorted on the bit-interleaved z(dm, pk) key via the
    * distributed rank (no global sort — bounded 24-bit keys make the
    * range buckets one shift, stor4's discipline), split into 64
    * equal-row files, committed atomically with TIGHTENED 2-D bounds
    * replacing the month files. The payoff is measured by the query's
    * planScan probe: the 2-D box prunes v1 only on dm, v2 on both
    * dims. Built once by [[buildOnce]].
    */
  private[graft] def stor16Table(s: SparkSession, d: String): String = {
    import graft.operators.RelationalOps
    // a file's (dm, pk) bounds from a (file, d0, d1, p0, p1) stats row
    def dmPkStats(r: org.apache.spark.sql.Row) = Map(
      "dm" -> CommitLog.ColStats(r.getLong(1).toString,
        r.getLong(2).toString),
      "pk" -> CommitLog.ColStats(r.getLong(3).toString,
        r.getLong(4).toString))
    buildOnce(d, "zcompact", "lineitem")(atVersion(2L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val src = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        datediff(col("l_shipdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long")
          .bitwiseAND(lit(4095L)).as("dm"),
        col("l_partkey").bitwiseAND(lit(4095L)).as("pk"),
        date_trunc("month", col("l_shipdate")).cast("date")
          .as("file_month"))
      src.write.partitionBy("file_month").parquet(dataDir)
      // v1: month files, de-Hived (rewrites must share one read
      // schema), with NUMERIC (dm, pk) bounds per file
      val st1 = CommitLog.collectMeta(s.read.parquet(dataDir)
        .groupBy("file_month")
        .agg(min(col("dm")).as("d0"), max(col("dm")).as("d1"),
          min(col("pk")).as("p0"), max(col("pk")).as("p1")),
        "stor16 v1 manifest stats")
        .map(r => s"m_${r.getDate(0)}" -> dmPkStats(r)).toMap
      val v1 = deHive(dataDir, "file_month=")("m_" + _)
      CommitLog.commit(base, v1, Nil, 0L, st1)
      // v2: the z-order rewrite — rank on the interleave (tie-safe:
      // orderkey+linenumber), 64 equal-row files
      val n1 = CommitLog.read(s, base).agg(count(lit(1)).as("n_rows"))
      val ranked = RelationalOps.globalRowNumber(
        CommitLog.read(s, base).withColumn("k",
          RelationalOps.zValue2(col("dm"), col("pk"), 12)),
        Seq(col("k").asc, col("l_orderkey").asc,
          col("l_linenumber").asc), col("k"), "rk",
        bucket = Some(shiftright(col("k"), 16)))
        .crossJoin(broadcast(n1))
        .withColumn("file_id",
          expr("(rk - 1) div ((n_rows + 63) div 64)"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("dm"), col("pk"), col("file_id"))
      ranked.write.mode("append").partitionBy("file_id")
        .parquet(dataDir)
      val st2 = CommitLog.collectMeta(ranked.groupBy("file_id")
        .agg(min(col("dm")).as("d0"), max(col("dm")).as("d1"),
          min(col("pk")).as("p0"), max(col("pk")).as("p1")),
        "stor16 v2 manifest stats")
        .map(r => f"z_${r.getLong(0)}%03d" -> dmPkStats(r)).toMap
      CommitLog.commit(base,
        deHive(dataDir, "file_id=")(v => f"z_${v.toLong}%03d"), v1, 1L, st2)
    }
  }

  /** stor17's table: WRITE-AUDIT-PUBLISH through branch refs (the
    * public Iceberg WAP pattern on [[graft.storage.CommitLog]]'s
    * journaled refs). v1 commits every ship month EXCEPT the newest
    * (the held-out "incoming batch") and cuts ref `main` there. Two
    * candidate commits then land on BRANCHES — invisible to main's
    * readers: `wap_bad` stages the held-out month with an impossible
    * quantity (+1000, violating the audit rule `l_quantity <= 100`),
    * `wap_good` stages it unchanged. The WAP loop audits each branch's
    * INCREMENT (only the candidate rows — never a full rescan) and
    * publishes ONLY the clean one by fast-forwarding `main`: an O(1)
    * metadata CAS, no data movement. The bad branch stays parked off
    * main forever — its rows never reachable through the published
    * lineage, its files left to the vacuum. At 100 TB this is how
    * risky ingest ships: full-fidelity staging in the real table,
    * audit against real files, publish or walk away atomically.
    * Built once by [[buildOnce]].
    */
  private[graft] def stor17Table(s: SparkSession, d: String): String =
    buildOnce(d, "wap", "lineitem")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      stageMonthFiles(s, d, dataDir): Unit
      // de-Hive (stor11's discipline): candidate files must coexist
      // with month files under one read schema
      val plains = deHive(dataDir, "file_month=")("m_" + _)
      val heldOut = plains.max // ISO month names: lexicographic = time
      // v1: everything except the held-out newest month
      CommitLog.commit(base, plains.filterNot(_ == heldOut), Nil, 0L)
      CommitLog.createRef(base, "main", 1L)
      // bad candidate on its own branch: quantity pushed past the
      // audit ceiling — a corrupt upstream batch, staged in full
      s.read.parquet(s"$dataDir/$heldOut")
        .withColumn("l_quantity", col("l_quantity") + lit(1000.0))
        .write.parquet(s"$dataDir/cand_bad")
      CommitLog.createRef(base, "wap_bad", 1L)
      CommitLog.commitToRef(base, "wap_bad", Seq("cand_bad"), Nil) // v2
      // good candidate: the held-out month as staged
      CommitLog.createRef(base, "wap_good", 1L)
      CommitLog.commitToRef(base, "wap_good", Seq(heldOut), Nil) // v3
      // the WAP loop: audit each branch's increment, publish clean
      Seq("wap_bad", "wap_good").foreach { ref =>
        val mainV = CommitLog.refVersion(base, "main")
        val bv = CommitLog.refVersion(base, ref)
        val viol = CommitLog.readIncrement(s, base, mainV, bv)
          .filter(col("l_quantity") > 100.0).count()
        if (viol == 0L) CommitLog.fastForward(base, "main", bv): Unit
      }
      require(CommitLog.refVersion(base, "main") == 3L,
        "WAP publish did not land on the good branch")
    }

  /** stor18/stor22's plain file name of key bucket `b`. */
  private def bucketFile(b: Long): String = f"b_$b%05d"

  /** Per-file manifest Bloom filters (m = 16384 bits, k = 3) over the
    * LONG column `key` of `src`, one per value of its LONG `file`
    * column, built distributed: each row's probe positions are
    * exploded and OR-folded into 64-bit words with `bit_or` grouped by
    * (file, word), so the driver only assembles filters from O(#files)
    * rows — at 100 TB the same shuffle shape builds a million file
    * filters and nothing driver-side grows with rows.
    */
  private def fileBlooms(src: DataFrame, file: String,
      key: String): Map[Long, CommitLog.Bloom] = {
    val (bm, bk) = (16384, 3)
    val probes = (0 until bk).map { i =>
      ((col(key) % CommitLog.Bloom.P * lit(CommitLog.Bloom.A(i)) +
        lit(CommitLog.Bloom.B(i)))
        % CommitLog.Bloom.P % bm).cast("long")
    }
    val words = src
      .select(col(file), explode(array(probes: _*)).as("pos"))
      .select(col(file), shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
          .as("b"))
      .groupBy(file, "w").agg(expr("bit_or(b)").as("bits"))
      .groupBy(file)
      .agg(collect_list(struct(col("w"), col("bits"))).as("words"))
    CommitLog.collectMeta(words, s"bloom words on $key").map { r =>
      val arr = new Array[Long](bm / 64)
      r.getSeq[org.apache.spark.sql.Row](1).foreach { wr =>
        arr(wr.getLong(0).toInt) = wr.getLong(1)
      }
      r.getLong(0) -> CommitLog.Bloom(bm, bk, arr)
    }.toMap
  }

  /** stor18's table: per-file BLOOM FILTERS in the manifest — equality
    * skipping where zone maps are powerless. lineitem is laid out in
    * INGEST ORDER (orderkey-range buckets of ~2000 rows; the file
    * count scales with the data, the real-table invariant) and carries
    * a derived lookup key `k = (orderkey*131 + linenumber) % 100000`
    * that is uniform across files — so every file's (min, max) range
    * on `k` spans nearly the whole domain and a point predicate prunes
    * NOTHING from range stats, while each file holds only ~2% of the
    * key space and its Bloom filter (m=16384, k=3) proves it free of
    * almost any given key. The filters are built DISTRIBUTED: probe
    * positions exploded per row, OR-folded into 64-bit words with
    * `bit_or` grouped by (file, word) — the driver only assembles
    * manifest lines from #files rows (at 100 TB the same shuffle shape
    * builds a million file filters; nothing driver-side grows with
    * rows). Built once by [[buildOnce]].
    */
  private[graft] def stor18Table(s: SparkSession, d: String): String =
    buildOnce(d, "bloom", "lineitem")(atVersion(1L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val li = Tables.lineitem(s, d)
      val n = li.count()
      val mxo = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val nF = math.max(32L, (n + 1999L) / 2000L)
      val step = (mxo + nF - 1L) / nF
      val src = li.select(
        expr(s"CAST((l_orderkey - 1) DIV $step AS LONG)").as("bucket"),
        ((col("l_orderkey") * 131L + col("l_linenumber")) % 100000L)
          .cast("long").as("k"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
          .as("cents"))
      src.write.partitionBy("bucket").parquet(dataDir)
      // metadata aggregates run on the PRE-WRITE frame (identical
      // rows; avoids the hive partition-column INT read-back trap)
      // range stats on k (the honest negative control: committed,
      // and useless by construction on this layout)
      val ranges = CommitLog.collectMeta(
        src.groupBy("bucket")
          .agg(min(col("k")).as("k0"), max(col("k")).as("k1")),
        "stor18 range stats")
        .map { r =>
          bucketFile(r.getLong(0)) -> Map("k" -> CommitLog.ColStats(
            r.getLong(1).toString, r.getLong(2).toString))
        }.toMap
      // Bloom filters on k: the equality skipping ranges cannot do
      val blooms = fileBlooms(src, "bucket", "k")
        .map { case (b, f) => bucketFile(b) -> Map("k" -> f) }
      // de-Hive to the plain per-bucket file names the manifest uses
      CommitLog.commitTagged(base,
        deHive(dataDir, "bucket=")(v => bucketFile(v.toLong)).sorted, Nil,
        0L, stats = ranges, blooms = blooms)
    }

  /** stor22's table: STRING-keyed manifest Bloom filters (VERDICT r17
    * #4 — stor18's machinery generalized past Long keys). The
    * documents corpus gets a document URI `source:lang:lpad(doc_id,
    * 12)` — the text-corpus identity shape (12-digit pad: sf1's
    * SPARSE id domain reaches 9e7 and a fixed width keeps every uri
    * prefix-free, so point range-probes stay exact) — laid out in doc_id-range
    * buckets (~2000 rows/file, floor 32: file count scales with the
    * corpus). Each file commits BOTH range stats on the uri string
    * (the honest negative control: sources/langs interleave within
    * every bucket, so each file's (min, max) spans nearly the whole
    * string domain and a point probe prunes ~nothing) AND a Bloom
    * filter over `md5Prefix60(uri)` — the md5-prefix60 mapping the
    * text/curation families already use, ANSI-reproducible so the
    * oracle recomputes bit-exact membership. The filter build is
    * distributed exactly like stor18 (probe positions exploded per
    * row, bit_or word folds by (file, word), driver assembles
    * O(#files) lines). Built once by [[buildOnce]].
    */
  private[graft] def stor22Table(s: SparkSession, d: String): String =
    buildOnce(d, "sbloom", "documents")(atVersion(1L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val mxid = docs.agg(max(col("doc_id"))).head().getLong(0)
      val nF = math.max(32L, (n + 1999L) / 2000L)
      val step = (mxid + nF) / nF
      val src = docs.select(
        expr(s"CAST(doc_id DIV $step AS LONG)").as("bucket"),
        concat(col("source"), lit(":"), col("lang"), lit(":"),
          lpad(col("doc_id").cast("string"), 12, "0")).as("uri"),
        col("n_chars"))
        .withColumn("h",
          graft.operators.TextOps.md5Prefix60(col("uri")))
      src.write.partitionBy("bucket").parquet(dataDir)
      // uri range stats: committed, and ~powerless by construction
      val ranges = CommitLog.collectMeta(
        src.groupBy("bucket")
          .agg(min(col("uri")).as("u0"), max(col("uri")).as("u1")),
        "stor22 range stats")
        .map { r =>
          bucketFile(r.getLong(0)) -> Map("uri" -> CommitLog.ColStats(
            r.getString(1), r.getString(2)))
        }.toMap
      // Bloom filters over h, keyed on the uri column they index
      val blooms = fileBlooms(src, "bucket", "h")
        .map { case (b, f) => bucketFile(b) -> Map("uri" -> f) }
      CommitLog.commitTagged(base,
        deHive(dataDir, "bucket=")(v => bucketFile(v.toLong)).sorted, Nil,
        0L, stats = ranges, blooms = blooms)
    }

  /** stor23's coordinator: a FACT + derived AGGREGATE pair (the
    * reference's K1+K3 shape — full table + report landed by one job)
    * committed through [[graft.storage.TxnLog]] so each batch becomes
    * visible in BOTH tables atomically. Txn 1 lands every ship month
    * but the last two, txn 2 the second-to-last; txn 3 (the last
    * month) is STAGED IN BOTH TABLES but its marker never publishes —
    * the crash-before-commit-point — so no reader ever sees it in
    * either table, and the invariant `agg ≡ rollup(fact)` holds at
    * every commit point by construction. Built once by
    * [[buildOnce]]; returns (coordDir, factDir, aggDir).
    */
  private[graft] def stor23Coord(s: SparkSession,
      d: String): (String, String, String) = {
    import graft.storage.TxnLog
    def tables(c: String) = (c, s"$c/fact", s"$c/agg")
    def complete(c: String) = atVersion(2L)(tables(c)._2)
    tables(buildOnce(d, "txn", "lineitem")(complete) { c =>
      val (coord, fact, agg) = tables(c)
      val li = Tables.lineitem(s, d).select(
        date_trunc("month", col("l_shipdate")).cast("date")
          .as("month"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
          .as("cents"))
      // the month spine is a BOUNDED driver list (≤ ~84 entries)
      val months = li.select("month").distinct().collect()
        .map(_.getDate(0)).sortBy(_.toString).toSeq
      require(months.size >= 3, "stor23 needs at least three months")
      def stageTxn(id: Long,
          ms: Seq[java.sql.Date]): Seq[TxnLog.Part] = {
        val rows = li.filter(col("month").isin(ms: _*))
        rows.write.parquet(s"${CommitLog.dataDir(fact)}/f_t$id")
        rows.groupBy("month")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).cast("long").as("cents_sum"))
          .coalesce(1)
          .write.parquet(s"${CommitLog.dataDir(agg)}/a_t$id")
        val parts = Seq(TxnLog.Part(fact, Seq(s"f_t$id")),
          TxnLog.Part(agg, Seq(s"a_t$id")))
        TxnLog.stage(id, parts)
        parts
      }
      stageTxn(1L, months.dropRight(2))
      TxnLog.commitMarker(coord, 1L, Seq(fact, agg))
      stageTxn(2L, Seq(months(months.size - 2)))
      TxnLog.commitMarker(coord, 2L, Seq(fact, agg))
      // txn 3: staged in BOTH tables, marker never published — the
      // crash between stage and commit point
      stageTxn(3L, Seq(months.last))
      TxnLog.recover(coord): Unit
    })
  }

  /** stor19's table: PARTITION EVOLUTION (the Iceberg hidden-
    * partitioning idea reduced to its manifest invariant): a table's
    * layout SPEC can change mid-life without rewriting history. v1
    * commits lineitem's OLD era (ship < 1998) as ship-month files
    * carrying ONLY ship bounds — the time-partitioned spec every
    * ingest pipeline starts with. v2 is the evolution: the NEW era
    * (ship >= 1998) lands as orderkey-range buckets carrying ONLY
    * orderkey bounds — the spec you migrate to when point lookups by
    * key start dominating. Neither era is rewritten, stats stay
    * heterogeneous per file, and `planScan`'s conservative rule (a
    * file missing a predicate's column is KEPT and reported in
    * noStats) is exactly what makes the evolution safe: each
    * predicate prunes its own era hard and reads the other era
    * whole, and results never depend on which spec a row landed
    * under. Built once by [[buildOnce]].
    */
  private[graft] def stor19Table(s: SparkSession, d: String): String =
    buildOnce(d, "pevo", "lineitem")(atVersion(2L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey").cast("long").as("okey"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
          .as("cents"),
        col("l_shipdate").cast("date").as("ship"),
        date_trunc("month", col("l_shipdate")).cast("date")
          .as("file_month"))
      val cut = "1998-01-01" // the synthetic ship domain is 1995..2001
      // v1: the OLD era under the month spec, ship bounds only
      val old = li.filter(col("ship") < lit(cut).cast("date"))
      old.write.partitionBy("file_month").parquet(dataDir)
      commitShipMonths(s, base)
      // v2: the evolution — the NEW era under the key spec, orderkey
      // bounds only (16 contiguous key-range buckets)
      val nw = li.filter(col("ship") >= lit(cut).cast("date"))
      // step derives from the NEW era's max key: recoverable later
      // from the v2 manifest stats alone (metadata-only planning)
      val mxo = nw.agg(max(col("okey"))).head().getLong(0)
      val step = (mxo + 15L) / 16L
      val nwB = nw.withColumn("kb",
        expr(s"CAST((okey - 1) DIV $step AS LONG)"))
      nwB.write.mode("append").partitionBy("kb").parquet(dataDir)
      val st2 = CommitLog.collectMeta(nwB.groupBy("kb")
        .agg(min(col("okey")).as("k0"), max(col("okey")).as("k1")),
        "stor19 v2 stats")
        .map { r =>
          f"k_${r.getLong(0)}%03d" -> Map("okey" -> CommitLog.ColStats(
            r.getLong(1).toString, r.getLong(2).toString))
        }.toMap
      CommitLog.commit(base,
        deHive(dataDir, "kb=")(v => f"k_${v.toLong}%03d"), Nil, 1L, st2)
    }

  /** stor21's table: EQUALITY deletes through the commit log (VERDICT
    * r17 #1 — erasure BY SUBJECT KEY, completing the delete triangle:
    * COW stor11 rewrites files, positional stor15 marks ordinals,
    * equality stor21 ships only the KEYS). stor15's month layout plus
    * a subject key `k = dm·10^12 + l_orderkey·8 + l_linenumber` (dm =
    * days since 1992-01-01): the ship day rides the high bits, so key
    * collisions — this synthetic lineitem duplicates (okey, ln) pairs
    * — can only pair rows with the SAME ship day, keeping "key
    * matches the window" ⟺ "row in the window" exact (bounds: dm <
    * 4096 by the data's 1995..2001 domain, okey·8+ln < 10^12 through
    * sf100, k < 2^62). v2 publishes ONE equality-delete file holding
    * the DISTINCT keys of the [CowLo, CowHi) window — the erasure
    * request IS the file: O(keys) bytes, no scan to locate ordinals,
    * no rewrite; reads apply it as a broadcast anti-join on k. v3
    * FOLDS exactly like stor15: only the ship-stats planScan
    * candidates are rewritten, read at v2 with the keys applied
    * ([[graft.storage.CommitLog.rewriteFiles]]; a file left empty is
    * dropped), and the E file retires in the same atomic `replace`
    * commit. Built once by [[buildOnce]].
    */
  private[graft] def stor21Table(s: SparkSession, d: String): String =
    buildOnce(d, "eqdel", "lineitem")(atVersion(3L)) { base =>
      val dataDir = CommitLog.dataDir(base)
      Tables.lineitem(s, d).select(
        (datediff(col("l_shipdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long")
          * 1000000000000L +
          col("l_orderkey") * 8L + col("l_linenumber")).as("k"),
        col("l_quantity"),
        col("l_shipdate").cast("date").as("ship"),
        date_trunc("month", col("l_shipdate")).cast("date")
          .as("file_month"))
        .write.partitionBy("file_month").parquet(dataDir)
      commitShipMonths(s, base)
      // --- v2: the EQUALITY delete — distinct window keys, one tiny
      // file, zero data files touched (contrast stor15: even the
      // positional form had to SCAN candidates to learn ordinals)
      val delPred = col("ship") >= lit(CowLo).cast("date") &&
        col("ship") < lit(CowHi).cast("date")
      CommitLog.read(s, base).filter(delPred)
        .select(col("k")).distinct()
        .coalesce(1).write.parquet(s"$dataDir/eq_v2")
      CommitLog.commitTagged(base, Nil, Nil, 1L,
        eqDeletes = Seq(("eq_v2", Seq("k"))))
      // --- v3: the FOLD — candidates from ship stats alone, each
      // rewritten with v2's keys applied, the E file retired in the
      // same atomic commit
      val cands = CommitLog.planScan(base, 1L,
        Seq(CommitLog.RangePredicate("ship", CowLo, CowHi))).selected
      val (adds, statsAdd) =
        CommitLog.rewriteFiles(s, base, 2L, cands, "fold3_", "ship")
      CommitLog.commitTagged(base, adds, cands :+ "eq_v2", 2L,
        statsAdd, op = Some("replace"))
    }

  /** stor14's pair of tables: stor9's three append commits as the
    * UPSTREAM, and a DOWNSTREAM derived table built by running
    * [[graft.storage.CommitLog.syncIncrement]] once per upstream
    * commit — each sync reads ONLY that commit's increment, applies a
    * row-wise transform (integer qty cents), and lands as one
    * downstream commit recording the consumed upstream version. The
    * downstream is itself a commit-log table, so its own history is
    * time-travelable and incrementally consumable. Built once by
    * [[buildOnce]].
    */
  private[graft] def stor14Tables(s: SparkSession,
      d: String): (String, String) = {
    val up = stor9Table(s, d)
    // a partially-reaped log makes consumedUpstreamVersion THROW
    // SnapshotExpired, which buildOnce reads as "rebuild"
    (up, buildOnce(d, "derived", "lineitem")(down =>
      CommitLog.latestVersion(down) >= 3L &&
        CommitLog.consumedUpstreamVersion(down) >= 3L) { down =>
      // one sync per upstream commit (bounded catch-up), so each
      // downstream version mirrors exactly one upstream increment
      (1L to 3L).foreach { v =>
        val r = CommitLog.syncIncrement(s, up, down, Some(v))(
          _.select(col("l_orderkey"),
            floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
              .as("qty_cents"),
            col("ship")))
        require(r.contains((v, v - 1, v)), s"sync $v landed $r")
      }
    })
  }

  private[graft] def stor7Summary(base: String): Map[String, String] =
    java.nio.file.Files.readAllLines(
      summaryFile(base).toPath)
      .toArray(Array.empty[String]).toSeq
      .filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); (k, v)
      }.toMap

  private def addVersion(m: Column): Column =
    when(m <= lit("1996-12-01").cast("date"), 1L)
      .when(m <= lit("1998-12-01").cast("date"), 2L)
      .otherwise(3L)
  private def liveAt(m: Column, v: Int): Column =
    addVersion(m) <= v &&
      !(m <= lit("1995-06-01").cast("date") && lit(v >= 3))

  lazy val registry: Seq[Query] = Seq(
    // COMMIT PROTOCOL, executed (VERDICT r15 #1 — the write half stor6
    // lacked): the month-file table is built through the real
    // CommitLog — files staged invisible, manifests published by
    // atomic hard-link, two barrier-synchronized committers racing for
    // v2 (loser detects CommitConflict and retries against the
    // winner's snapshot → exactly one conflict, order-independent
    // final state), a retention-delete commit, then snapshot expiry
    // that checkpoints the horizon, drops manifests v1-v3 and
    // PHYSICALLY deletes the files only they referenced. The query
    // reads the surviving head snapshot back through the log and
    // reports the protocol's measured counters; the oracle recomputes
    // every one relationally from raw lineitem (file counts are month
    // counts; the protocol constants — head version, one conflict,
    // three expired manifests, guards true — are deterministic by
    // construction). The refusal guard (time travel below the horizon
    // throws) and on-disk deletion are measured, not asserted.
    Query("stor7_commit_protocol", (s, d) => {
      val t = stor7Table(s, d)
      val sm = stor7Summary(t)
      val head = CommitLog.latestVersion(t)
      val nLive = CommitLog.liveFiles(t, head).size
      CommitLog.read(s, t)
        .agg(count(lit(1)).as("rows_current"),
          sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
            .cast("long").as("sum_qty_cents"))
        .select(lit(head).as("version_head"),
          lit(sm("n_conflicts").toLong).as("n_conflicts"),
          lit(sm("n_manifests_expired").toLong).as("n_manifests_expired"),
          lit(sm("n_files_deleted").toLong).as("n_files_deleted"),
          lit(sm("expired_read_refused").toBoolean)
            .as("expired_read_refused"),
          lit(sm("files_physically_gone").toBoolean)
            .as("files_physically_gone"),
          lit(nLive.toLong).as("n_live_files"),
          col("rows_current"), col("sum_qty_cents"))
    },
      // stor7: protocol constants are deterministic by construction
      // (4 commits, exactly one forced conflict, manifests v1-v3
      // expired, both guards must hold); file counts and row/checksum
      // state recompute relationally from lineitem's ship months. The
      // retention delete removed months ≤ 1995-06, so the surviving
      // head snapshot is everything after.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(4 AS BIGINT) AS version_head,
        |  CAST(1 AS BIGINT) AS n_conflicts,
        |  CAST(3 AS BIGINT) AS n_manifests_expired,
        |  (SELECT count(*) FROM f WHERE m <= DATE '1995-06-01')
        |    AS n_files_deleted,
        |  true AS expired_read_refused,
        |  true AS files_physically_gone,
        |  (SELECT count(*) FROM f WHERE m > DATE '1995-06-01')
        |    AS n_live_files,
        |  (SELECT CAST(sum(n_rows) AS BIGINT) FROM f
        |    WHERE m > DATE '1995-06-01') AS rows_current,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM f
        |    WHERE m > DATE '1995-06-01') AS sum_qty_cents""".stripMargin),
    // SNAPSHOT / TIME-TRAVEL reads (VERDICT r14 #5 — the versioned-read
    // capability that completes the table-format story): lineitem lives
    // as a REAL month-partitioned layout (one "file" per ship month,
    // the stor2/stor3 model made physical), and a three-commit manifest
    // timeline is modeled over it — v1 = history ≤ 1996-12, v2 appends
    // 1997-1998, v3 appends 1999+ and EXPIRES the ≤ 1995-06 files
    // (retention). For each version the as-of reader reports: the live
    // file count, how many live files the stor2 zone-map test prunes
    // for a 3-month ship window, the rows a pruned scan touches vs the
    // snapshot's total, and an exact integer checksum of the
    // predicate rows read — proving the pruned versioned read returns
    // exactly what a full scan would. Liveness is a partition-column
    // predicate (no driver-side manifest collect — planning-time
    // partition pruning, pinned in PlanAuditSpec), and the window rows
    // only exist at v3, so time travel visibly changes the answer.
    // The oracle computes every column relationally from raw lineitem:
    // layout and versioning are execution properties, the result is
    // invariant.
    Query("stor6_time_travel", (s, d) => {
      val path = snapshotPath(s, d)
      // mid-month boundaries so file-level pruning (whole months) and
      // the exact row predicate visibly differ: scanned > matched
      val lo = lit("1997-04-15").cast("date")
      val hi = lit("1997-06-20").cast("date") // end-exclusive
      val snap = s.read.parquet(path)
      val perVersion = (1 to 3).map { v =>
        val live = snap.filter(liveAt(col("file_month"), v))
        // manifest stats from the live files' zone maps (min/max ship
        // per file — the stor2 skip test at file granularity)
        val mf = live.groupBy("file_month")
          .agg(count(lit(1)).as("n_rows"),
            min(col("ship")).as("min_ship"),
            max(col("ship")).as("max_ship"))
          .withColumn("pruned",
            col("max_ship") < lo || col("min_ship") >= hi)
        val stats = mf.agg(
          count(lit(1)).as("n_live_files"),
          sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
          sum(col("n_rows")).as("rows_asof"),
          sum(when(!col("pruned"), col("n_rows")).otherwise(0L))
            .as("rows_scanned"))
        // the PRUNED versioned read: liveness + the zone-map month
        // window as partition predicates, then the exact row predicate
        val read = snap.filter(liveAt(col("file_month"), v) &&
            col("file_month") >= date_trunc("month", lo).cast("date") &&
            col("file_month") < hi)
          .filter(col("ship") >= lo && col("ship") < hi)
          .agg(count(lit(1)).as("rows_matched"),
            coalesce(sum(floor(col("l_quantity") * 100 + lit(0.5))
              .cast("long")), lit(0L)).as("sum_qty_cents"))
        stats.crossJoin(broadcast(read))
          .select(lit(v.toLong).as("version"),
            col("n_live_files"),
            col("n_pruned"),
            (col("n_live_files") - col("n_pruned")).as("n_files_read"),
            col("rows_asof"), col("rows_scanned"),
            col("rows_matched"), col("sum_qty_cents"))
      }
      perVersion.reduce(_ unionByName _)
    },
      // stor6: the same three-version manifest timeline and zone-map
      // arithmetic computed relationally from raw lineitem (layout and
      // versioning are execution properties; the result is invariant).
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    min(l_shipdate::DATE) AS min_ship,
        |    max(l_shipdate::DATE) AS max_ship
        |  FROM lineitem GROUP BY 1),
        |v(version) AS (VALUES (CAST(1 AS BIGINT)), (2), (3)),
        |live AS (SELECT v.version, f.*,
        |    (f.max_ship < DATE '1997-04-15'
        |      OR f.min_ship >= DATE '1997-06-20') AS pruned
        |  FROM v JOIN f ON
        |    (CASE WHEN f.m <= DATE '1996-12-01' THEN 1
        |          WHEN f.m <= DATE '1998-12-01' THEN 2
        |          ELSE 3 END) <= v.version
        |    AND NOT (f.m <= DATE '1995-06-01' AND v.version >= 3)),
        |stats AS (SELECT version,
        |    count(*) AS n_live_files,
        |    CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pruned,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_asof,
        |    CAST(sum(CASE WHEN pruned THEN 0 ELSE n_rows END) AS BIGINT)
        |      AS rows_scanned
        |  FROM live GROUP BY 1),
        |chk AS (SELECT v.version,
        |    count(l_orderkey) AS rows_matched,
        |    coalesce(CAST(sum(CAST(floor(l_quantity * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT), 0) AS sum_qty_cents
        |  FROM v LEFT JOIN lineitem ON
        |    l_shipdate::DATE >= DATE '1997-04-15'
        |    AND l_shipdate::DATE < DATE '1997-06-20'
        |    AND (CASE WHEN date_trunc('month', l_shipdate)::DATE
        |            <= DATE '1996-12-01' THEN 1
        |          WHEN date_trunc('month', l_shipdate)::DATE
        |            <= DATE '1998-12-01' THEN 2
        |          ELSE 3 END) <= v.version
        |  GROUP BY 1)
        |SELECT stats.version, stats.n_live_files, stats.n_pruned,
        |  stats.n_live_files - stats.n_pruned AS n_files_read,
        |  stats.rows_asof, stats.rows_scanned,
        |  chk.rows_matched, chk.sum_qty_cents
        |FROM stats JOIN chk USING (version)""".stripMargin),
    // INCREMENTAL SCAN — the downstream-consumer contract the
    // table-format story was missing: a pipeline that has processed
    // snapshot v reads ONLY the files commit v+1 added (never a table
    // rescan), which is how every incremental ETL/CDC consumer rides
    // an append-only 100 TB table. Three append commits over the
    // month-file layout; for each the query reads the INCREMENT
    // (fromV, toV] through the log and reports new-file count, rows
    // added, and the exact checksum — and the cumulative sums across
    // increments must reconstruct the full table (the oracle computes
    // both from raw lineitem). The refusal arm — an increment spanning
    // a REWRITE commit must throw rather than double-count — is pinned
    // in StorageCompactionSpec against stor8's rewrite timeline.
    Query("stor9_incremental_scan", (s, d) => {
      val t = stor9Table(s, d)
      (1L to 3L).map { v =>
        val files = CommitLog.addedFiles(t, v - 1, v)
        CommitLog.readIncrement(s, t, v - 1, v)
          .agg(count(lit(1)).as("rows_added"),
            sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("sum_qty_cents"))
          .select(lit(v).as("version"),
            lit(files.size.toLong).as("n_files_new"),
            col("rows_added"), col("sum_qty_cents"))
      }.reduce(_ unionByName _)
    },
      // stor9: each append commit's increment recomputed from the ship
      // months it covers.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |v(version, lo, hi) AS (VALUES
        |  (CAST(1 AS BIGINT), DATE '1900-01-01', DATE '1996-12-31'),
        |  (2, DATE '1996-12-31', DATE '1998-12-31'),
        |  (3, DATE '1998-12-31', DATE '9999-12-31'))
        |SELECT v.version, count(*) AS n_files_new,
        |  CAST(sum(f.n_rows) AS BIGINT) AS rows_added,
        |  CAST(sum(f.cents) AS BIGINT) AS sum_qty_cents
        |FROM v JOIN f ON f.m > v.lo AND f.m <= v.hi
        |GROUP BY 1""".stripMargin),

    // EXACTLY-ONCE DERIVED TABLE — the consumer half of the
    // incremental contract stor9 demonstrates on the producer side:
    // a downstream table built by syncIncrement, one bounded sync per
    // upstream commit, each reading ONLY that commit's files,
    // applying a row-wise transform, and recording the consumed
    // upstream version IN the downstream manifest (crash before the
    // commit → invisible files, redo; crash after → the recorded
    // version stops any replay; racing syncers → one lands, pinned in
    // CommitLogSpec). This is how a 100 TB pipeline keeps a family of
    // derived tables in step with a source-of-truth table without
    // rescans and without double-counts. The downstream is itself a
    // commit-log table: the query time-travels it version by version
    // and reports the cumulative derived state; the oracle recomputes
    // each from the upstream month windows.
    Query("stor14_derived_sync", (s, d) => {
      val (_, down) = stor14Tables(s, d)
      val consumed = CommitLog.consumedUpstreamVersion(down)
      (1L to 3L).map { v =>
        CommitLog.read(s, down, Some(v))
          .agg(count(lit(1)).as("rows_cum"),
            sum(col("qty_cents")).cast("long").as("sum_qty_cents_cum"))
          .select(lit(v).as("version"), col("rows_cum"),
            col("sum_qty_cents_cum"), lit(consumed).as("consumed_up"))
      }.reduce(_ unionByName _)
    },
      // stor14: cumulative derived state per downstream version = the
      // upstream month windows, cumulatively; the consumed-version
      // ledger is 3 by construction (one bounded sync per upstream
      // commit, pinned in the builder).
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |v(version, hi) AS (VALUES
        |  (CAST(1 AS BIGINT), DATE '1996-12-31'),
        |  (2, DATE '1998-12-31'), (3, DATE '9999-12-31'))
        |SELECT v.version,
        |  CAST(sum(f.n_rows) AS BIGINT) AS rows_cum,
        |  CAST(sum(f.cents) AS BIGINT) AS sum_qty_cents_cum,
        |  CAST(3 AS BIGINT) AS consumed_up
        |FROM v JOIN f ON f.m <= v.hi
        |GROUP BY 1""".stripMargin),

    // COMPACTION, executed (VERDICT r15 #2): stor3 planned the
    // bin-packing of the small month-files; this query RUNS it through
    // the commit log (1 MiB target — stor3's discipline, sized so the
    // rewrite merges multiple groups at every correctness scale) —
    // v1 commits the month files, the plan is one
    // metadata aggregate broadcast into a cluster-side rewrite, v2 is
    // the rewrite commit (adds per-bin compacted files, removes the
    // months). The result reads the COMPACTED snapshot back and
    // reports, per bin: how many files merged, rows, the exact integer
    // checksum (stor5's losslessness discipline — rewritten bytes must
    // carry identical data), the bin's ship span, and whether the
    // stor2 3-month window still prunes it (zone-map prunability
    // survives compaction because bins pack CONSECUTIVE months). The
    // oracle recomputes the plan and every stat relationally from raw
    // lineitem; StorageCompactionSpec pins the physical side (fewer
    // files on disk, v1 time travel intact, log at v2).
    Query("stor8_compaction_exec", (s, d) => {
      val t = stor8Table(s, d)
      val lo = lit(java.sql.Date.valueOf("1997-04-01"))
      val hi = lit(java.sql.Date.valueOf("1997-07-01")) // end-exclusive
      CommitLog.read(s, t) // head = v2, the compacted snapshot
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(countDistinct(col("file_month")).as("n_files_merged"),
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
            .cast("long").as("sum_qty_cents"),
          min(col("file_month")).as("from_month"),
          max(col("file_month")).as("to_month"),
          min(col("ship")).as("__mn"), max(col("ship")).as("__mx"))
        .select(col("bin"), col("n_files_merged"), col("n_rows"),
          col("sum_qty_cents"), col("from_month"), col("to_month"),
          (col("__mx") < lo || col("__mn") >= hi).as("pruned"))
    },
      // stor8: stor3's binning recomputed relationally, with per-bin
      // row/checksum/span stats and the stor2 window's prune flag — the
      // compacted physical layout must carry identical data.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE
        |    AS file_month, count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents,
        |    min(l_shipdate::DATE) AS min_ship,
        |    max(l_shipdate::DATE) AS max_ship
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT *, n_rows * 64 AS est_bytes,
        |    sum(n_rows * 64) OVER (ORDER BY file_month
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS end_off
        |  FROM f)
        |SELECT CAST(floor((end_off - est_bytes) / 1048576.0) AS BIGINT)
        |    AS bin,
        |  count(*) AS n_files_merged,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_qty_cents,
        |  min(file_month) AS from_month, max(file_month) AS to_month,
        |  (max(max_ship) < DATE '1997-04-01'
        |    OR min(min_ship) >= DATE '1997-07-01') AS pruned
        |FROM o GROUP BY 1""".stripMargin),

    // SCAN PLANNING FROM MANIFEST STATS (the read-side payoff of
    // carrying per-file column bounds in commits — Iceberg's
    // lower/upper_bounds): the month-file table is committed ONCE with
    // ship + orderkey min/max per file, and the query plans a
    // conjunctive range scan (a 2-month ship window AND an orderkey
    // band) from the manifest ALONE — no footer reads, no data I/O —
    // then opens ONLY the planned files. At 100 TB this is the planning
    // step that makes a selective query cost O(matching files) instead
    // of O(table): the driver touches O(manifest) metadata and the
    // skipped files are never even listed to the reader. The ship
    // predicate prunes whole months; the orderkey band prunes NOTHING
    // (keys are uniform across months — min/max spans of every file
    // overlap any band), which the result REPORTS honestly: stats on a
    // layout-uncorrelated column carry no skipping power, exactly why
    // z-ordering (stor4) exists. The oracle recomputes the zone-map
    // arithmetic and the exact row predicate relationally; equality
    // proves the metadata-planned scan returns precisely what a full
    // scan would.
    Query("stor10_stats_pruned_scan", (s, d) => {
      val t = stor10Table(s, d)
      val (lo, hi) = ("1997-04-15", "1997-06-20") // end-exclusive
      val (kLo, kHi) = (1000L, 2000L)             // end-exclusive
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      val plan = CommitLog.planScan(t, 1L, Seq(
        CommitLog.RangePredicate("ship", lo, hi),
        CommitLog.RangePredicate("l_orderkey", kLo.toString,
          kHi.toString, numCmp)))
      val nLive = CommitLog.liveFiles(t, 1L).size
      val rowPred = col("ship") >= lit(lo).cast("date") &&
        col("ship") < lit(hi).cast("date") &&
        col("l_orderkey") >= kLo && col("l_orderkey") < kHi
      CommitLog.readFiles(s, t, plan.selected)
        .agg(count(lit(1)).as("rows_scanned"),
          sum(when(rowPred, 1L).otherwise(0L)).as("rows_matched"),
          coalesce(sum(when(rowPred,
            floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))),
            lit(0L)).as("sum_qty_cents"))
        .select(lit(nLive.toLong).as("n_live_files"),
          lit(plan.skipped.getOrElse("ship", 0L)).as("n_skip_ship"),
          lit(plan.skipped.getOrElse("l_orderkey", 0L)).as("n_skip_key"),
          lit(plan.noStats.size.toLong).as("n_no_stats"),
          lit(plan.selected.size.toLong).as("n_files_read"),
          col("rows_scanned"), col("rows_matched"), col("sum_qty_cents"))
    },
      // stor10: the manifest zone-map arithmetic (ship + orderkey
      // bounds per month-file, skip = provably disjoint) and the exact
      // conjunctive row predicate, recomputed relationally. n_no_stats
      // is 0 by construction: every committed file carried stats.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    min(l_shipdate::DATE) AS mn_s, max(l_shipdate::DATE) AS mx_s,
        |    min(l_orderkey) AS mn_k, max(l_orderkey) AS mx_k
        |  FROM lineitem GROUP BY 1),
        |z AS (SELECT *,
        |    (mx_s < DATE '1997-04-15' OR mn_s >= DATE '1997-06-20')
        |      AS skip_s,
        |    (mx_k < 1000 OR mn_k >= 2000) AS skip_k
        |  FROM f),
        |plan AS (SELECT count(*) AS n_live_files,
        |    CAST(sum(CASE WHEN skip_s THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_skip_ship,
        |    CAST(sum(CASE WHEN skip_k THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_skip_key,
        |    CAST(0 AS BIGINT) AS n_no_stats,
        |    CAST(sum(CASE WHEN skip_s OR skip_k THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_files_read,
        |    CAST(sum(CASE WHEN skip_s OR skip_k THEN 0 ELSE n_rows END)
        |      AS BIGINT) AS rows_scanned
        |  FROM z),
        |mt AS (SELECT count(*) AS rows_matched,
        |    coalesce(CAST(sum(CAST(floor(l_quantity * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT), 0) AS sum_qty_cents
        |  FROM lineitem
        |  WHERE l_shipdate::DATE >= DATE '1997-04-15'
        |    AND l_shipdate::DATE < DATE '1997-06-20'
        |    AND l_orderkey >= 1000 AND l_orderkey < 2000)
        |SELECT plan.n_live_files, plan.n_skip_ship, plan.n_skip_key,
        |  plan.n_no_stats, plan.n_files_read, plan.rows_scanned,
        |  mt.rows_matched, mt.sum_qty_cents
        |FROM plan CROSS JOIN mt""".stripMargin),

    // COPY-ON-WRITE row-level DELETE through the commit log — the DML
    // half of the table-format story (append = stor7/stor9, rewrite =
    // stor8; this is DELETE WHERE): candidate files come from manifest
    // stats (planScan — only files whose ship bounds overlap the
    // predicate), each candidate is rewritten WITHOUT its matching
    // rows (a candidate left empty is dropped, not rewritten), and the
    // commit swaps candidates for rewrites atomically with TIGHTENED
    // stats. Untouched files are never opened, never rewritten — at
    // 100 TB a delete of a 2-month window costs O(2 months of data),
    // not O(table). The result proves all four invariants at once:
    // the file ledger (total/candidates/rewritten/dropped/untouched
    // from the log), the row ledger (head rows + checksum = exactly
    // the kept rows), time travel to the pre-delete snapshot intact,
    // and the closing metadata argument — a post-delete scan for the
    // deleted range plans ZERO files from the rewritten stats alone.
    // The oracle recomputes every column relationally from raw
    // lineitem month arithmetic.
    Query("stor11_cow_delete", (s, d) => {
      val t = stor11Table(s, d)
      val pred = CommitLog.RangePredicate("ship", CowLo, CowHi)
      val v1Files = CommitLog.liveFiles(t, 1L).size
      val cands = CommitLog.planScan(t, 1L, Seq(pred)).selected.size
      val headFiles = CommitLog.liveFiles(t, 2L).size
      val rewritten = headFiles - (v1Files - cands)
      val overlapAfter = CommitLog.planScan(t, 2L, Seq(pred)).selected.size
      val cents = sum(floor(col("l_quantity") * 100 + lit(0.5))
        .cast("long")).cast("long")
      val v1Agg = CommitLog.read(s, t, Some(1L))
        .agg(count(lit(1)).as("rows_at_v1"))
      val headAgg = CommitLog.read(s, t)
        .agg(count(lit(1)).as("rows_head"), cents.as("sum_qty_cents"))
      v1Agg.crossJoin(broadcast(headAgg))
        .select(lit(v1Files.toLong).as("n_files_v1"),
          lit(cands.toLong).as("n_candidates"),
          lit(rewritten.toLong).as("n_rewritten"),
          lit((cands - rewritten).toLong).as("n_dropped"),
          lit((v1Files - cands).toLong).as("n_untouched"),
          col("rows_at_v1"),
          (col("rows_at_v1") - col("rows_head")).as("rows_deleted"),
          col("rows_head"), col("sum_qty_cents"),
          lit(overlapAfter.toLong).as("n_files_overlap_after"))
    },
      // stor11: the whole COW-delete ledger from month arithmetic —
      // candidates are months whose ship bounds overlap the window,
      // dropped are candidates with no surviving rows, the post-delete
      // overlap count uses the KEPT rows' tightened bounds.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    min(l_shipdate::DATE) AS mn, max(l_shipdate::DATE) AS mx,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= DATE '1997-04-15'
        |      AND l_shipdate::DATE < DATE '1997-06-20'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    min(CASE WHEN l_shipdate::DATE < DATE '1997-04-15'
        |      OR l_shipdate::DATE >= DATE '1997-06-20'
        |      THEN l_shipdate::DATE END) AS kept_mn,
        |    max(CASE WHEN l_shipdate::DATE < DATE '1997-04-15'
        |      OR l_shipdate::DATE >= DATE '1997-06-20'
        |      THEN l_shipdate::DATE END) AS kept_mx,
        |    CAST(sum(CASE WHEN l_shipdate::DATE < DATE '1997-04-15'
        |      OR l_shipdate::DATE >= DATE '1997-06-20'
        |      THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents_kept
        |  FROM lineitem GROUP BY 1),
        |z AS (SELECT *,
        |    NOT (mx < DATE '1997-04-15' OR mn >= DATE '1997-06-20')
        |      AS cand,
        |    n_rows - n_del AS n_kept
        |  FROM f)
        |SELECT count(*) AS n_files_v1,
        |  CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_candidates,
        |  CAST(sum(CASE WHEN cand AND n_kept > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_rewritten,
        |  CAST(sum(CASE WHEN cand AND n_kept = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN cand THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_untouched,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_at_v1,
        |  CAST(sum(n_del) AS BIGINT) AS rows_deleted,
        |  CAST(sum(n_kept) AS BIGINT) AS rows_head,
        |  CAST(sum(cents_kept) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CASE WHEN cand AND n_kept > 0
        |      AND NOT (kept_mx < DATE '1997-04-15'
        |        OR kept_mn >= DATE '1997-06-20') THEN 1
        |    WHEN NOT cand
        |      AND NOT (mx < DATE '1997-04-15'
        |        OR mn >= DATE '1997-06-20') THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_files_overlap_after
        |FROM z""".stripMargin),

    // MERGE-ON-READ row-level DELETE through the commit log (VERDICT
    // r16 #1 — the format-native answer to point deletes at 100 TB):
    // v2 publishes ONE positional delete file (the (fpath, pos)
    // identity of every ship-window row, found via planScan's
    // candidate pruning) and rewrites NOTHING — the erasure costs
    // O(rows deleted) bytes where stor11's COW rewrites whole files;
    // reads apply the marks as a broadcast anti-join on each scanned
    // row's (file, ordinal) identity. v3 FOLDS: only the
    // marked files are rewritten (the reader's own anti-join), the
    // delete file retires in the same atomic commit, and the scan
    // overhead returns to zero. The query reads all three versions
    // back through the log and reports the ledger per version —
    // data/delete file counts, marked rows, visible rows, exact cents
    // — proving MOR at v2, the fold at v3, and (because the window
    // matches stor11's) that COW and MOR converge on the identical
    // relational state; the oracle recomputes every column from raw
    // lineitem month arithmetic. StorageCompactionSpec pins the
    // physical side: v2 time travel still applies marks after the
    // fold, delete-file bytes ≪ COW rewrite bytes, incremental reads
    // refuse to cross the D commit.
    Query("stor15_mor_delete", (s, d) => {
      val t = stor15Table(s, d)
      val dataDir = CommitLog.dataDir(t)
      (1L to 3L).map { v =>
        val nData = CommitLog.liveFiles(t, v).size
        val dels = CommitLog.liveDeleteFiles(t, v)
        val marked =
          if (dels.isEmpty) lit(0L)
          else lit(s.read.parquet(dels.map(f => s"$dataDir/$f"): _*)
            .count())
        CommitLog.read(s, t, Some(v))
          .agg(count(lit(1)).as("rows_visible"),
            sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("sum_qty_cents"))
          .select(lit(v).as("version"),
            lit(nData.toLong).as("n_data_files"),
            lit(dels.size.toLong).as("n_delete_files"),
            marked.as("rows_marked"),
            col("rows_visible"), col("sum_qty_cents"))
      }.reduce(_ unionByName _)
    },
      // stor15: the MOR-delete ledger from the same month arithmetic as
      // stor11 (shared ground truth IS the COW/MOR-equivalence proof):
      // v1 full table, v2 marks = all window rows with files untouched,
      // v3 = the fold's file ledger (candidates with survivors rewritten,
      // empties dropped) with identical visible state.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    min(l_shipdate::DATE) AS mn, max(l_shipdate::DATE) AS mx,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= DATE '1997-04-15'
        |      AND l_shipdate::DATE < DATE '1997-06-20'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents_all,
        |    CAST(sum(CASE WHEN l_shipdate::DATE < DATE '1997-04-15'
        |      OR l_shipdate::DATE >= DATE '1997-06-20'
        |      THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents_kept
        |  FROM lineitem GROUP BY 1),
        |z AS (SELECT *,
        |    NOT (mx < DATE '1997-04-15' OR mn >= DATE '1997-06-20')
        |      AS cand,
        |    n_rows - n_del AS n_kept
        |  FROM f),
        |t AS (SELECT count(*) AS n_months,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_all,
        |    CAST(sum(n_del) AS BIGINT) AS rows_del,
        |    CAST(sum(n_kept) AS BIGINT) AS rows_kept,
        |    CAST(sum(cents_all) AS BIGINT) AS c_all,
        |    CAST(sum(cents_kept) AS BIGINT) AS c_kept,
        |    CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cand,
        |    CAST(sum(CASE WHEN cand AND n_kept > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_refold
        |  FROM z)
        |SELECT CAST(1 AS BIGINT) AS version, n_months AS n_data_files,
        |  CAST(0 AS BIGINT) AS n_delete_files,
        |  CAST(0 AS BIGINT) AS rows_marked,
        |  rows_all AS rows_visible, c_all AS sum_qty_cents FROM t
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), n_months, CAST(1 AS BIGINT),
        |  rows_del, rows_kept, c_kept FROM t
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), n_months - n_cand + n_refold,
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), rows_kept, c_kept
        |FROM t""".stripMargin),

    // EQUALITY DELETE through the commit log (VERDICT r17 #1 — the
    // third delete form, closing the triangle: COW stor11 rewrites
    // whole files synchronously, positional stor15 scans candidates
    // once to learn (file, ordinal) pairs, equality stor21 writes
    // ONLY THE SUBJECT KEYS — the GDPR-erasure request lands as one
    // tiny file with zero data I/O, and reads apply it as a broadcast
    // anti-join on the key). v3 folds like stor15: candidates from
    // ship stats alone are rewritten with the keys applied and the E
    // file retires atomically. The query reports the per-version
    // ledger — data/E-file counts, keys marked, visible rows, exact
    // cents. THREE-WAY PARITY: the delete window matches stor11/
    // stor15 exactly, so all three oracles recompute the SAME month
    // arithmetic ground truth — equal rows_visible/cents across the
    // three queries IS the COW ≡ positional ≡ equality proof
    // (StorageCompactionSpec asserts the head-state signatures equal
    // directly). The oracle adds the distinct-key count from the same
    // key formula.
    Query("stor21_eq_delete", (s, d) => {
      val t = stor21Table(s, d)
      val dataDir = CommitLog.dataDir(t)
      (1L to 3L).map { v =>
        val nData = CommitLog.liveFiles(t, v).size
        val eqs = CommitLog.liveEqDeleteFiles(t, v)
        val marked =
          if (eqs.isEmpty) lit(0L)
          else lit(s.read.parquet(
            eqs.map(_._1).map(f => s"$dataDir/$f"): _*).count())
        CommitLog.read(s, t, Some(v))
          .agg(count(lit(1)).as("rows_visible"),
            sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("sum_qty_cents"))
          .select(lit(v).as("version"),
            lit(nData.toLong).as("n_data_files"),
            lit(eqs.size.toLong).as("n_eqdelete_files"),
            marked.as("keys_marked"),
            col("rows_visible"), col("sum_qty_cents"))
      }.reduce(_ unionByName _)
    },
      // stor21: the equality-delete ledger from the SAME month
      // arithmetic as stor11/stor15 (shared ground truth IS the
      // three-way COW ≡ positional ≡ equality proof): v1 full table,
      // v2 = one E file carrying the distinct window keys (the subject
      // key formula restated verbatim: dm·10^12 + okey·8 + ln) with
      // every data file untouched, v3 = the fold's file ledger with
      // identical visible state.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    min(l_shipdate::DATE) AS mn, max(l_shipdate::DATE) AS mx,
        |    CAST(sum(CASE WHEN l_shipdate::DATE >= DATE '1997-04-15'
        |      AND l_shipdate::DATE < DATE '1997-06-20'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents_all,
        |    CAST(sum(CASE WHEN l_shipdate::DATE < DATE '1997-04-15'
        |      OR l_shipdate::DATE >= DATE '1997-06-20'
        |      THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents_kept
        |  FROM lineitem GROUP BY 1),
        |ks AS (SELECT CAST(count(DISTINCT
        |      CAST(date_diff('day', DATE '1992-01-01',
        |        l_shipdate::DATE) AS BIGINT) * 1000000000000
        |      + l_orderkey * 8 + l_linenumber) AS BIGINT) AS nk
        |  FROM lineitem
        |  WHERE l_shipdate::DATE >= DATE '1997-04-15'
        |    AND l_shipdate::DATE < DATE '1997-06-20'),
        |z AS (SELECT *,
        |    NOT (mx < DATE '1997-04-15' OR mn >= DATE '1997-06-20')
        |      AS cand,
        |    n_rows - n_del AS n_kept
        |  FROM f),
        |t AS (SELECT count(*) AS n_months,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_all,
        |    CAST(sum(n_kept) AS BIGINT) AS rows_kept,
        |    CAST(sum(cents_all) AS BIGINT) AS c_all,
        |    CAST(sum(cents_kept) AS BIGINT) AS c_kept,
        |    CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cand,
        |    CAST(sum(CASE WHEN cand AND n_kept > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_refold
        |  FROM z)
        |SELECT CAST(1 AS BIGINT) AS version, n_months AS n_data_files,
        |  CAST(0 AS BIGINT) AS n_eqdelete_files,
        |  CAST(0 AS BIGINT) AS keys_marked,
        |  rows_all AS rows_visible, c_all AS sum_qty_cents FROM t
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), n_months, CAST(1 AS BIGINT),
        |  ks.nk, rows_kept, c_kept FROM t, ks
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), n_months - n_cand + n_refold,
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), rows_kept, c_kept
        |FROM t""".stripMargin),

    // Z-ORDER-AWARE COMPACTION, executed (VERDICT r16 #3): v1 is the
    // ingest-ordered month layout (dm bounds tight, pk bounds
    // full-domain per file — stor2's negative control), v2 the same
    // rows rewritten in z(dm, pk) order into 64 equal-row files with
    // tightened 2-D manifest bounds, one atomic rewrite commit. The
    // query runs the SAME planScan probe (stor4's 2-D box: ship-1997
    // days AND a narrow partkey band) against both versions' manifest
    // stats and reads back only the planned files: the skip count must
    // JUMP (v1 prunes only months outside 1997 — the pk predicate has
    // zero power on a layout it doesn't cluster; v2 prunes on both
    // dims), rows_matched and the matched checksum are IDENTICAL
    // across versions (pruning soundness), and the full-table cents
    // are identical (lossless rewrite — stor5's discipline). The
    // oracle recomputes both layouts relationally: month zone maps for
    // v1, the exact zSql interleave rank → 64-chunk zone maps for v2
    // (stor4's arithmetic), plus the box-matched rows and checksums
    // from raw lineitem.
    Query("stor16_zorder_compact", (s, d) => {
      val t = stor16Table(s, d)
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      val preds = Seq(
        CommitLog.RangePredicate("dm", "1827", "2192", numCmp),
        CommitLog.RangePredicate("pk", "100", "301", numCmp))
      val rowPred = col("dm") >= 1827L && col("dm") < 2192L &&
        col("pk") >= 100L && col("pk") < 301L
      val cents = floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
      (1L to 2L).map { v =>
        val live = CommitLog.liveFiles(t, v)
        val plan = CommitLog.planScan(t, v, preds)
        val total = CommitLog.read(s, t, Some(v))
          .agg(sum(cents).cast("long").as("sum_qty_cents_total"))
        CommitLog.readFiles(s, t, plan.selected)
          .agg(count(lit(1)).as("rows_scanned"),
            sum(when(rowPred, 1L).otherwise(0L)).as("rows_matched"),
            coalesce(sum(when(rowPred, cents)), lit(0L)).cast("long")
              .as("sum_qty_cents_matched"))
          .crossJoin(broadcast(total))
          .select(lit(v).as("version"),
            lit(live.size.toLong).as("n_files"),
            lit((live.size - plan.selected.size).toLong).as("n_skipped"),
            lit(plan.skipped.getOrElse("dm", 0L)).as("n_skip_dm"),
            lit(plan.skipped.getOrElse("pk", 0L)).as("n_skip_pk"),
            col("rows_scanned"), col("rows_matched"),
            col("sum_qty_cents_matched"), col("sum_qty_cents_total"))
      }.reduce(_ unionByName _)
    },
      // stor16: both layouts recomputed relationally — month zone maps
      // for v1, the exact zSql interleave rank → 64 equal-row chunk zone
      // maps for v2 (stor4's arithmetic) — plus the 2-D box skip ledger,
      // the box-matched rows/checksum (identical across versions:
      // pruning soundness) and the full-table checksum (identical:
      // lossless rewrite).
      s"""WITH base AS (SELECT
         |    CAST(date_diff('day', DATE '1992-01-01',
         |      l_shipdate::DATE) AS BIGINT) & 4095 AS dm,
         |    CAST(l_partkey AS BIGINT) & 4095 AS pk,
         |    l_orderkey, l_linenumber,
         |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS cents,
         |    date_trunc('month', l_shipdate)::DATE AS m
         |  FROM lineitem),
         |n AS (SELECT count(*) AS nt,
         |    CAST(sum(cents) AS BIGINT) AS total FROM base),
         |mt AS (SELECT count(*) AS rows_matched,
         |    coalesce(CAST(sum(cents) AS BIGINT), 0) AS cents_m
         |  FROM base WHERE dm >= 1827 AND dm < 2192
         |    AND pk >= 100 AND pk < 301),
         |f1 AS (SELECT m, count(*) AS nr, min(dm) AS d0, max(dm) AS d1,
         |    min(pk) AS p0, max(pk) AS p1 FROM base GROUP BY 1),
         |z1 AS (SELECT *, (d1 < 1827 OR d0 >= 2192) AS sd,
         |    (p1 < 100 OR p0 >= 301) AS sp FROM f1),
         |a1 AS (SELECT count(*) AS n_files,
         |    CAST(sum(CASE WHEN sd OR sp THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skipped,
         |    CAST(sum(CASE WHEN sd THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skip_dm,
         |    CAST(sum(CASE WHEN sp THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skip_pk,
         |    CAST(sum(CASE WHEN sd OR sp THEN 0 ELSE nr END) AS BIGINT)
         |      AS rows_scanned
         |  FROM z1),
         |zo AS (SELECT dm, pk, cents, row_number() OVER (ORDER BY
         |    ${QueriesFunctions.zSql("dm", "pk", 12)},
         |    l_orderkey, l_linenumber) AS rk
         |  FROM base),
         |f2 AS (SELECT (rk - 1) // ((nt + 63) // 64) AS fid,
         |    count(*) AS nr, min(dm) AS d0, max(dm) AS d1,
         |    min(pk) AS p0, max(pk) AS p1 FROM zo, n GROUP BY 1),
         |z2 AS (SELECT *, (d1 < 1827 OR d0 >= 2192) AS sd,
         |    (p1 < 100 OR p0 >= 301) AS sp FROM f2),
         |a2 AS (SELECT count(*) AS n_files,
         |    CAST(sum(CASE WHEN sd OR sp THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skipped,
         |    CAST(sum(CASE WHEN sd THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skip_dm,
         |    CAST(sum(CASE WHEN sp THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_skip_pk,
         |    CAST(sum(CASE WHEN sd OR sp THEN 0 ELSE nr END) AS BIGINT)
         |      AS rows_scanned
         |  FROM z2)
         |SELECT CAST(1 AS BIGINT) AS version, a1.n_files, a1.n_skipped,
         |  a1.n_skip_dm, a1.n_skip_pk, a1.rows_scanned,
         |  mt.rows_matched, mt.cents_m AS sum_qty_cents_matched,
         |  n.total AS sum_qty_cents_total
         |FROM a1, mt, n
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), a2.n_files, a2.n_skipped,
         |  a2.n_skip_dm, a2.n_skip_pk, a2.rows_scanned,
         |  mt.rows_matched, mt.cents_m, n.total
         |FROM a2, mt, n""".stripMargin),

    // BATCH POINT-LOOKUP FILE PRUNING (the GDPR-erasure / dynamic-
    // file-pruning shape): a 40-key IN-list planned against the
    // manifest Bloom filters in ONE pass — a file is opened iff its
    // filter admits ANY key in the batch. On stor18's ingest-ordered
    // layout the zone maps would keep every file for every key; the
    // batch bloom plan opens only the files that might hold any of
    // the 40 keys, and correctness is exact (no false negatives, so
    // every matching row lives in a selected file — rows_matched,
    // cents, and distinct keys found all equal the global IN-list
    // counts). The oracle recomputes bit-exact batch membership
    // relationally with the key as a COLUMN (no text explosion).
    Query("stor20_bloom_in_prune", (s, d) => {
      val t = stor18Table(s, d)
      val keys = (0 until 40).map(i => i * 2500L + 7L)
      val plan = CommitLog.planScan(t, 1L, Nil, Nil,
        Seq(CommitLog.InPredicate("k", keys)))
      val nFiles = CommitLog.liveFiles(t, 1L).size.toLong
      val inSet = col("k").isin(keys: _*)
      val agg =
        if (plan.selected.isEmpty)
          s.range(1).select(lit(0L).as("rows_scanned"),
            lit(0L).as("rows_matched"), lit(0L).as("cents_matched"),
            lit(0L).as("n_keys_found"))
        else CommitLog.readFiles(s, t, plan.selected)
          .agg(count(lit(1)).as("rows_scanned"),
            sum(when(inSet, 1L).otherwise(0L)).as("rows_matched"),
            coalesce(sum(when(inSet, col("cents"))), lit(0L))
              .cast("long").as("cents_matched"),
            countDistinct(when(inSet, col("k"))).as("n_keys_found"))
      agg.select(lit(40L).as("n_keys"),
        lit(nFiles).as("n_files"),
        lit(plan.selected.size.toLong).as("bloom_selected"),
        col("rows_scanned"), col("rows_matched"),
        col("cents_matched"), col("n_keys_found"))
    },
      // stor20: the batch form of stor18's membership arithmetic with
      // the query key as a COLUMN — per (file, key) the same 3-target ×
      // 3-probe bit test, a file selected iff ANY key passes; matched
      // rows/cents/distinct keys from the raw IN-list join.
      {
      def pr(v: String, i: Int): String =
        s"((($v) % 2147483647) * " +
          s"${graft.storage.CommitLog.Bloom.A(i)} + " +
          s"${graft.storage.CommitLog.Bloom.B(i)}) % 2147483647 % 16384"
      val hit = (0 until 3).map { ti =>
        val tgt = pr("ks.qk", ti)
        val any = (0 until 3)
          .map(pi => s"${pr("br.k", pi)} = ($tgt)").mkString(" OR ")
        s"max(CASE WHEN $any THEN 1 ELSE 0 END) = 1"
      }.mkString(" AND ")
      s"""WITH p AS (SELECT max(l_orderkey) AS mxo, count(*) AS n
         |  FROM lineitem),
         |prm AS (SELECT mxo, n,
         |    (mxo + GREATEST(32, (n + 1999) // 2000) - 1)
         |      // GREATEST(32, (n + 1999) // 2000) AS step
         |  FROM p),
         |b AS (SELECT (l.l_orderkey - 1) // prm.step AS bucket,
         |    (l.l_orderkey * 131 + l.l_linenumber) % 100000 AS k,
         |    CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem l CROSS JOIN prm),
         |ks AS (SELECT x * 2500 + 7 AS qk FROM range(0, 40) t(x)),
         |fs AS (SELECT bucket, count(*) AS nr FROM b GROUP BY 1),
         |br AS (SELECT b.bucket, b.k FROM b),
         |fk AS (SELECT br.bucket, ks.qk, ($hit) AS hit
         |  FROM br, ks GROUP BY br.bucket, ks.qk),
         |fsel AS (SELECT bucket,
         |    max(CASE WHEN hit THEN 1 ELSE 0 END) = 1 AS sel
         |  FROM fk GROUP BY bucket),
         |ag AS (SELECT
         |    CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS bloom_selected,
         |    CAST(sum(CASE WHEN sel THEN nr ELSE 0 END) AS BIGINT)
         |      AS rows_scanned
         |  FROM fsel JOIN fs USING (bucket)),
         |mt AS (SELECT CAST(count(*) AS BIGINT) AS rows_matched,
         |    CAST(coalesce(sum(b.cents), 0) AS BIGINT)
         |      AS cents_matched,
         |    CAST(count(DISTINCT b.k) AS BIGINT) AS n_keys_found
         |  FROM b JOIN ks ON b.k = ks.qk)
         |SELECT CAST(40 AS BIGINT) AS n_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM fs) AS n_files,
         |  ag.bloom_selected, ag.rows_scanned,
         |  mt.rows_matched, mt.cents_matched, mt.n_keys_found
         |FROM ag, mt""".stripMargin
    }),

    // PARTITION EVOLUTION (the Iceberg hidden-partitioning contract):
    // the old era lives in ship-month files with ship bounds only, the
    // new era (post-evolution commit) in orderkey buckets with key
    // bounds only — no history rewritten, stats heterogeneous per
    // file. The ship probe prunes the OLD era hard and conservatively
    // keeps every new file (reported in n_nostats); the key probe
    // prunes the NEW era hard and keeps every old file. Correctness is
    // layout-blind: rows_matched/cents equal the global predicate
    // counts because a file missing a predicate column is always read,
    // never skipped blind. The oracle rebuilds both eras' zone maps
    // and the band arithmetic from raw lineitem.
    Query("stor19_partition_evolution", (s, d) => {
      val t = stor19Table(s, d)
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      // band bounds from the v2 manifest stats ALONE (metadata-only):
      // max okey over the key-spec era's bounds = the builder's mxo
      val mxo = CommitLog.statsAt(t, 2L).values.flatMap(_.get("okey"))
        .map(_.max.toLong).max
      val step = (mxo + 15L) / 16L
      val (blo, bhi) = (mxo / 4L, mxo / 4L + (step + 1L) / 2L)
      val nFiles = CommitLog.liveFiles(t, 2L).size.toLong
      val probes = Seq(
        ("ship",
          Seq(CommitLog.RangePredicate("ship", "1996-03-01",
            "1996-06-01")),
          col("ship") >= lit("1996-03-01").cast("date") &&
            col("ship") < lit("1996-06-01").cast("date")),
        ("key",
          Seq(CommitLog.RangePredicate("okey", blo.toString,
            bhi.toString, numCmp)),
          col("okey") >= blo && col("okey") < bhi))
      probes.map { case (label, preds, rowPred) =>
        val plan = CommitLog.planScan(t, 2L, preds)
        CommitLog.readFiles(s, t, plan.selected)
          .agg(count(lit(1)).as("rows_scanned"),
            sum(when(rowPred, 1L).otherwise(0L)).as("rows_matched"),
            coalesce(sum(when(rowPred, col("cents"))), lit(0L))
              .cast("long").as("cents_matched"))
          .select(lit(label).as("probe"),
            lit(nFiles).as("n_files"),
            lit((nFiles - plan.selected.size).toLong).as("n_skipped"),
            lit(plan.noStats.size.toLong).as("n_nostats"),
            col("rows_scanned"), col("rows_matched"),
            col("cents_matched"))
      }.reduce(_ unionByName _)
    },
      // stor19: both eras' zone maps and the band arithmetic from raw
      // lineitem — old era = ship-month files with ship bounds, new era
      // (ship >= 1998) = 16 key buckets with okey bounds; each probe
      // prunes only its own era and conservatively reads the other
      // (n_nostats = the other era's live file count), and matched
      // rows/cents are the global predicate counts (layout-blind).
      """WITH li AS (SELECT l_orderkey AS okey,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS cents,
        |    l_shipdate::DATE AS ship,
        |    date_trunc('month', l_shipdate)::DATE AS m
        |  FROM lineitem),
        |p AS (SELECT max(okey) AS mxo, (max(okey) + 15) // 16 AS step
        |  FROM li WHERE ship >= DATE '1998-01-01'),
        |pp AS (SELECT mxo, step, mxo // 4 AS blo,
        |    mxo // 4 + (step + 1) // 2 AS bhi FROM p),
        |oldf AS (SELECT m, count(*) AS nr, min(ship) AS mn,
        |    max(ship) AS mx
        |  FROM li WHERE ship < DATE '1998-01-01' GROUP BY 1),
        |newf AS (SELECT (okey - 1) // pp.step AS kb, count(*) AS nr,
        |    min(okey) AS k0, max(okey) AS k1
        |  FROM li, pp WHERE ship >= DATE '1998-01-01' GROUP BY 1),
        |nf AS (SELECT (SELECT count(*) FROM oldf) +
        |    (SELECT count(*) FROM newf) AS n_files),
        |sarm AS (SELECT
        |    CAST(sum(CASE WHEN mx < DATE '1996-03-01'
        |      OR mn >= DATE '1996-06-01' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_skipped,
        |    CAST(sum(CASE WHEN mx < DATE '1996-03-01'
        |      OR mn >= DATE '1996-06-01' THEN 0 ELSE nr END) AS BIGINT)
        |      AS rows_old FROM oldf),
        |smt AS (SELECT CAST(count(*) AS BIGINT) AS rows_matched,
        |    CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_matched
        |  FROM li WHERE ship >= DATE '1996-03-01'
        |    AND ship < DATE '1996-06-01'),
        |karm AS (SELECT
        |    CAST(sum(CASE WHEN k1 < pp.blo OR k0 >= pp.bhi
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |    CAST(sum(CASE WHEN k1 < pp.blo OR k0 >= pp.bhi
        |      THEN 0 ELSE nr END) AS BIGINT) AS rows_new
        |  FROM newf, pp),
        |kmt AS (SELECT CAST(count(*) AS BIGINT) AS rows_matched,
        |    CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_matched
        |  FROM li, pp WHERE okey >= pp.blo AND okey < pp.bhi)
        |SELECT 'ship' AS probe, CAST(nf.n_files AS BIGINT) AS n_files,
        |  sarm.n_skipped,
        |  (SELECT CAST(count(*) AS BIGINT) FROM newf) AS n_nostats,
        |  sarm.rows_old +
        |    (SELECT CAST(sum(nr) AS BIGINT) FROM newf) AS rows_scanned,
        |  smt.rows_matched, smt.cents_matched
        |FROM nf, sarm, smt
        |UNION ALL
        |SELECT 'key', CAST(nf.n_files AS BIGINT), karm.n_skipped,
        |  (SELECT CAST(count(*) AS BIGINT) FROM oldf),
        |  karm.rows_new +
        |    (SELECT CAST(sum(nr) AS BIGINT) FROM oldf),
        |  kmt.rows_matched, kmt.cents_matched
        |FROM nf, karm, kmt""".stripMargin),

    // WRITE-AUDIT-PUBLISH through branch refs (the Iceberg WAP
    // pattern): v1 = every month but the newest, ref `main` cut there;
    // v2 = a corrupt candidate batch (quantity +1000) committed on
    // branch `wap_bad`; v3 = the clean candidate on `wap_good`. The
    // audit runs on each branch's INCREMENT only, and publish is an
    // O(1) fast-forward CAS of `main` — the bad branch's rows are
    // NEVER reachable through the published lineage (the `published`
    // column is isAncestor against the final main ref). The oracle
    // recomputes every stage from raw lineitem month arithmetic: the
    // held-out month's rows/cents, the +1000-per-row cents shift on
    // the bad branch, the violation counts, and the publish verdicts.
    // CommitLogBranchSpec pins the protocol side (CAS races,
    // fast-forward refusal on divergence, branch-blind replay).
    Query("stor17_wap_publish", (s, d) => {
      val t = stor17Table(s, d)
      val mainV = CommitLog.refVersion(t, "main")
      (1L to 3L).map { v =>
        val viol =
          if (v == 1L) lit(0L)
          else lit(CommitLog.readIncrement(s, t, 1L, v)
            .filter(col("l_quantity") > 100.0).count())
        CommitLog.read(s, t, Some(v))
          .agg(count(lit(1)).as("rows_visible"),
            sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("sum_qty_cents"))
          .select(lit(v).as("version"),
            lit(CommitLog.liveFiles(t, v).size.toLong).as("n_files"),
            col("rows_visible"), col("sum_qty_cents"),
            viol.as("audit_viol"),
            lit(if (CommitLog.isAncestor(t, v, mainV)) 1L else 0L)
              .as("published"))
      }.reduce(_ unionByName _)
    },
      // stor17: the WAP ledger from raw month arithmetic — v1 is all
      // months but the newest; the bad branch shifts every held-out row
      // by exactly +1000 quantity (= +100000 cents) and fails the audit
      // with one violation per row; the good branch is the held-out
      // month verbatim and publishes.
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE AS m,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_months,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_all,
        |    CAST(sum(cents) AS BIGINT) AS cents_all,
        |    max(m) AS mx FROM f),
        |h AS (SELECT CAST(f.n_rows AS BIGINT) AS n_ho,
        |    f.cents AS cents_ho
        |  FROM f, p WHERE f.m = p.mx)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  p.n_months - 1 AS n_files,
        |  p.rows_all - h.n_ho AS rows_visible,
        |  p.cents_all - h.cents_ho AS sum_qty_cents,
        |  CAST(0 AS BIGINT) AS audit_viol,
        |  CAST(1 AS BIGINT) AS published
        |FROM p, h
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), p.n_months, p.rows_all,
        |  p.cents_all + 100000 * h.n_ho, h.n_ho, CAST(0 AS BIGINT)
        |FROM p, h
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), p.n_months, p.rows_all, p.cents_all,
        |  CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |FROM p, h""".stripMargin),

    // BLOOM-FILTER FILE SKIPPING from the manifest — equality pruning
    // where zone maps are powerless: the lookup key is uniform across
    // ingest-ordered files, so every file's (min, max) covers ~the
    // whole domain and the range probe (`zone_selected`) keeps nearly
    // everything, while the per-file Bloom filter (`bloom_selected`)
    // keeps only the files that can contain the key — for the `hit`
    // probe the handful that actually do (plus rare false positives),
    // for the in-domain `miss` probe almost none. rows_scanned is the
    // measured read cost of the bloom plan; rows_matched/cents are
    // exact (no false negatives, so every matching row lives in a
    // selected file). The oracle recomputes the bucket layout, both
    // probe keys, AND bit-exact Bloom membership relationally — the
    // hash family is integer arithmetic shared verbatim with the
    // planner (a file passes iff for each of the 3 target bits some
    // row sets it via any of its 3 probes).
    Query("stor18_bloom_skip", (s, d) => {
      val t = stor18Table(s, d)
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      val tbl = CommitLog.read(s, t)
      // both probes MID-domain (smallest present/absent key >= 50000):
      // an edge key would let the min/max zone maps prune by accident
      // and understate the contrast this query measures
      val qhit = tbl.filter(col("k") >= 50000L).agg(min(col("k")))
        .head().getLong(0)
      // OPT r18 (guide §2.4): anti-join semantics don't need the right
      // side distinct — dropping it removes one exchange + aggregate
      // over the table; result identical.
      val qmiss = s.range(50000L, 100000L).toDF("id")
        .join(tbl.select(col("k")), col("id") === col("k"), "left_anti")
        .agg(min(col("id"))).head().getLong(0)
      val nFiles = CommitLog.liveFiles(t, 1L).size.toLong
      Seq(("hit", qhit), ("miss", qmiss)).map { case (label, qk) =>
        val zone = CommitLog.planScan(t, 1L,
          Seq(CommitLog.RangePredicate("k", qk.toString,
            (qk + 1L).toString, numCmp)))
        val bloom = CommitLog.planScan(t, 1L, Nil,
          Seq(CommitLog.EqPredicate("k", qk)))
        val scanned =
          if (bloom.selected.isEmpty)
            s.range(1).select(lit(0L).as("rows_scanned"),
              lit(0L).as("rows_matched"), lit(0L).as("cents_matched"))
          else CommitLog.readFiles(s, t, bloom.selected)
            .agg(count(lit(1)).as("rows_scanned"),
              sum(when(col("k") === qk, 1L).otherwise(0L))
                .as("rows_matched"),
              coalesce(sum(when(col("k") === qk, col("cents"))), lit(0L))
                .cast("long").as("cents_matched"))
        scanned.select(lit(label).as("probe"), lit(qk).as("qk"),
          lit(nFiles).as("n_files"),
          lit(zone.selected.size.toLong).as("zone_selected"),
          lit(bloom.selected.size.toLong).as("bloom_selected"),
          col("rows_scanned"), col("rows_matched"), col("cents_matched"))
      }.reduce(_ unionByName _)
    },
      // stor18: the bucket layout, both probe keys, and BIT-EXACT Bloom
      // membership recomputed relationally: a file passes for a query
      // key iff for EACH of the key's 3 target bit positions SOME row in
      // the file sets that position via ANY of its 3 probes (cross-probe
      // collisions included — this is exactly "the bit is set", so the
      // oracle reproduces false positives too, not just true hits).
      {
      def pr(v: String, i: Int): String =
        s"((($v) % 2147483647) * " +
          s"${graft.storage.CommitLog.Bloom.A(i)} + " +
          s"${graft.storage.CommitLog.Bloom.B(i)}) % 2147483647 % 16384"
      def arm(label: String, qv: String): String = {
        val hits = (0 until 3).map { ti =>
          val tgt = pr(qv, ti)
          val any = (0 until 3)
            .map(pi => s"${pr("b.k", pi)} = ($tgt)").mkString(" OR ")
          s"max(CASE WHEN $any THEN 1 ELSE 0 END) = 1"
        }.mkString(" AND ")
        s"""SELECT '$label' AS probe, CAST($qv AS BIGINT) AS qk,
           |  (SELECT CAST(count(*) AS BIGINT) FROM fs) AS n_files,
           |  (SELECT CAST(sum(CASE WHEN fs.mnk <= $qv AND fs.mxk >= $qv
           |      THEN 1 ELSE 0 END) AS BIGINT) FROM fs, q)
           |    AS zone_selected,
           |  s.bloom_selected, s.rows_scanned,
           |  (SELECT CAST(count(*) AS BIGINT) FROM b, q
           |    WHERE b.k = $qv) AS rows_matched,
           |  (SELECT CAST(coalesce(sum(b.cents), 0) AS BIGINT)
           |    FROM b, q WHERE b.k = $qv) AS cents_matched
           |FROM (SELECT
           |    CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
           |      AS bloom_selected,
           |    CAST(sum(CASE WHEN sel THEN nr ELSE 0 END) AS BIGINT)
           |      AS rows_scanned
           |  FROM (SELECT b.bucket, max(b.nr) AS nr, ($hits) AS sel
           |    FROM br b, q GROUP BY b.bucket)) s, q""".stripMargin
      }
      s"""WITH p AS (SELECT max(l_orderkey) AS mxo, count(*) AS n
         |  FROM lineitem),
         |prm AS (SELECT mxo, n,
         |    (mxo + GREATEST(32, (n + 1999) // 2000) - 1)
         |      // GREATEST(32, (n + 1999) // 2000) AS step
         |  FROM p),
         |b AS (SELECT (l.l_orderkey - 1) // prm.step AS bucket,
         |    (l.l_orderkey * 131 + l.l_linenumber) % 100000 AS k,
         |    CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem l CROSS JOIN prm),
         |q AS (SELECT
         |    (SELECT min(k) FROM b WHERE k >= 50000) AS qhit,
         |    (SELECT min(x) FROM range(50000, 100000) t(x)
         |      WHERE x NOT IN (SELECT k FROM b)) AS qmiss),
         |fs AS (SELECT bucket, count(*) AS nr, min(k) AS mnk,
         |    max(k) AS mxk FROM b GROUP BY 1),
         |br AS (SELECT b.bucket, b.k, fs.nr
         |  FROM b JOIN fs USING (bucket))
         |${arm("hit", "q.qhit")}
         |UNION ALL
         |${arm("miss", "q.qmiss")}""".stripMargin
    }),

    // MULTI-TABLE ATOMIC COMMIT (VERDICT r17 #6): a fact table and
    // its derived aggregate land through the transaction log — stage
    // in both, ONE atomic marker claim, idempotent expose — so
    // readers see each batch in neither table or both. Txn 3 stages
    // the last month in both tables but crashes before its marker:
    // its rows are invisible in BOTH (a per-table commit protocol
    // would have let one table expose and not the other). The query
    // full-outer-joins rollup(fact) with the agg table per month —
    // any parity break (a month on one side only, mismatched
    // counts/cents) would surface as nulls in the hash — plus the
    // coordinator ledger: 2 committed txns, both tables at v2, one
    // staged-pending txn. The oracle recomputes the month arithmetic
    // with the last month held out. TxnLogSpec pins the crash matrix
    // (pre-marker invisibility, post-marker recovery, racing
    // recoverers, abort refusal).
    Query("stor23_multitable_txn", (s, d) => {
      import graft.storage.TxnLog
      val (coord, fact, agg) = stor23Coord(s, d)
      val factDf = TxnLog.read(s, coord, fact)
      val aggDf = TxnLog.read(s, coord, agg)
      val roll = factDf.groupBy("month")
        .agg(count(lit(1)).as("n_fact_rows"),
          sum(col("cents")).cast("long").as("cents_fact"))
      roll.join(aggDf, Seq("month"), "full_outer")
        .select(col("month"), col("n_fact_rows"), col("cents_fact"),
          col("n_rows").as("n_agg_rows"),
          col("cents_sum").as("cents_agg"),
          lit(TxnLog.committedTxns(coord).size.toLong)
            .as("n_txns_committed"),
          lit(CommitLog.latestVersion(fact)).as("fact_version"),
          lit(CommitLog.latestVersion(agg)).as("agg_version"),
          lit(TxnLog.stagedTxnIds(fact).size.toLong)
            .as("n_staged_pending"))
    },
      // stor23: the month arithmetic with the LAST month held out (txn
      // 3 staged but never marked): per visible month the fact rollup
      // and the agg row carry identical counts/cents, and the ledger
      // columns are the protocol constants (2 committed, both tables at
      // v2, 1 staged-pending).
      """WITH li AS (SELECT date_trunc('month', l_shipdate)::DATE
        |      AS month,
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |mm AS (SELECT max(month) AS last FROM li),
        |vis AS (SELECT month, CAST(count(*) AS BIGINT) AS n_fact_rows,
        |    CAST(sum(cents) AS BIGINT) AS cents_fact
        |  FROM li, mm WHERE month < mm.last GROUP BY 1)
        |SELECT month, n_fact_rows, cents_fact,
        |  n_fact_rows AS n_agg_rows, cents_fact AS cents_agg,
        |  CAST(2 AS BIGINT) AS n_txns_committed,
        |  CAST(2 AS BIGINT) AS fact_version,
        |  CAST(2 AS BIGINT) AS agg_version,
        |  CAST(1 AS BIGINT) AS n_staged_pending
        |FROM vis""".stripMargin),

    // STRING-KEYED BLOOM FILE SKIPPING (VERDICT r17 #4): point and
    // batch lookups by DOCUMENT URI over the text corpus, planned
    // from manifest Bloom filters built on md5Prefix60(uri) — the
    // erasure/lookup shape for doc_id/text-keyed tables where stor18's
    // Long-key hashing can't reach. The uri zone maps are the honest
    // negative control (sources/langs interleave in every bucket, so
    // string (min, max) keeps ~every file); the bloom plan opens the
    // handful that can hold the key. Three arms: a present uri, an
    // absent in-domain uri, and a 10-key batch (InPredicate.ofString —
    // the GDPR-text shape). Correctness is exact: no false negatives,
    // so matched rows/chars equal the global uri-equality counts. The
    // oracle rebuilds the bucket layout, the uris, the md5-prefix60
    // hashes, and bit-exact Bloom membership relationally.
    Query("stor22_string_bloom_skip", (s, d) => {
      val t = stor22Table(s, d)
      // probe construction is a BOUNDED driver-side step (≤11 uris —
      // the probe set, not data), built from the RAW documents rows so
      // it never assumes dense ids (sf1's doc_id domain is SPARSE:
      // 50k distinct ids up to 9e7 — a "mxid/2" point probe matched
      // nothing there)
      val raw = s.read.parquet(s"$d/documents.parquet")
      def uriCol = concat(col("source"), lit(":"), col("lang"),
        lit(":"), lpad(col("doc_id").cast("string"), 12, "0"))
      val mxid = raw.agg(max(col("doc_id"))).head().getLong(0)
      // hit: the smallest PRESENT id at or above mid-domain
      val hitUri = raw.filter(col("doc_id") >= mxid / 2L)
        .orderBy(col("doc_id")).limit(1)
        .select(uriCol.as("uri")).head().getString(0)
      val missUri = f"src0:en:${mxid + 7L}%012d"
      // batch: the 10 smallest PRESENT ids in a deterministic residue
      // class — presence-robust at any sparsity
      val batchUris = raw.filter(col("doc_id") % 7 === 3)
        .orderBy(col("doc_id")).limit(10)
        .select(uriCol.as("uri"))
        .collect().map(_.getString(0)).toSeq.sorted
      val nFiles = CommitLog.liveFiles(t, 1L).size.toLong
      // per-key zone probe, unioned across the batch (disjunction —
      // planScan's predicate list is a conjunction)
      def zoneSel(uris: Seq[String]): Long =
        uris.map(u => CommitLog.planScan(t, 1L,
          Seq(CommitLog.RangePredicate("uri", u, u + "~")))
          .selected.toSet).reduce(_ ++ _).size.toLong
      Seq(("hit", Seq(hitUri)), ("miss", Seq(missUri)),
        ("batch", batchUris)).map { case (label, uris) =>
        val sel =
          if (uris.size == 1)
            CommitLog.planScan(t, 1L, Nil,
              Seq(CommitLog.EqPredicate.ofString("uri", uris.head)))
              .selected
          else CommitLog.planScan(t, 1L, Nil, Nil,
            Seq(CommitLog.InPredicate.ofString("uri", uris))).selected
        val inSet = col("uri").isin(uris: _*)
        val agg =
          if (sel.isEmpty)
            s.range(1).select(lit(0L).as("rows_scanned"),
              lit(0L).as("rows_matched"), lit(0L).as("chars_matched"))
          else CommitLog.readFiles(s, t, sel)
            .agg(count(lit(1)).as("rows_scanned"),
              sum(when(inSet, 1L).otherwise(0L)).as("rows_matched"),
              coalesce(sum(when(inSet, col("n_chars"))), lit(0L))
                .cast("long").as("chars_matched"))
        agg.select(lit(label).as("probe"),
          lit(uris.size.toLong).as("n_keys"),
          lit(nFiles).as("n_files"),
          lit(zoneSel(uris)).as("zone_selected"),
          lit(sel.size.toLong).as("bloom_selected"),
          col("rows_scanned"), col("rows_matched"),
          col("chars_matched"))
      }.reduce(_ unionByName _)
    },
      // stor22: the string-key form of stor18/stor20's membership
      // arithmetic — uris, md5-prefix60 hashes, the doc_id bucket
      // layout, per-(probe, file) bit-exact Bloom membership (3 targets
      // × 3 probes over the file's row hashes), per-(probe, file) zone
      // overlap on the uri string bounds, and the matched rows/chars
      // from raw uri equality.
      {
      def pr(v: String, i: Int): String =
        s"((($v) % 2147483647) * " +
          s"${graft.storage.CommitLog.Bloom.A(i)} + " +
          s"${graft.storage.CommitLog.Bloom.B(i)}) % 2147483647 % 16384"
      val hit = (0 until 3).map { ti =>
        val tgt = pr("ks.kh", ti)
        val any = (0 until 3)
          .map(pi => s"${pr("br.h", pi)} = ($tgt)").mkString(" OR ")
        s"max(CASE WHEN $any THEN 1 ELSE 0 END) = 1"
      }.mkString(" AND ")
      s"""WITH p AS (SELECT max(doc_id) AS mxid, count(*) AS n
         |  FROM documents),
         |prm AS (SELECT mxid, n,
         |    (mxid + GREATEST(32, (n + 1999) // 2000))
         |      // GREATEST(32, (n + 1999) // 2000) AS step
         |  FROM p),
         |b AS (SELECT d.doc_id, d.doc_id // prm.step AS bucket,
         |    d.source || ':' || d.lang || ':' ||
         |      lpad(CAST(d.doc_id AS VARCHAR), 12, '0') AS uri,
         |    CAST(concat('0x', substr(md5(d.source || ':' || d.lang ||
         |      ':' || lpad(CAST(d.doc_id AS VARCHAR), 12, '0')), 1, 15))
         |      AS BIGINT) AS h,
         |    d.n_chars
         |  FROM documents d CROSS JOIN prm),
         |ks AS (
         |  SELECT 'hit' AS probe, b.uri AS k, b.h AS kh
         |    FROM b WHERE b.doc_id = (SELECT min(d2.doc_id)
         |      FROM documents d2, p WHERE d2.doc_id >= p.mxid // 2)
         |  UNION ALL
         |  SELECT 'miss',
         |    'src0:en:' || lpad(CAST(p.mxid + 7 AS VARCHAR), 12, '0'),
         |    CAST(concat('0x', substr(md5('src0:en:' ||
         |      lpad(CAST(p.mxid + 7 AS VARCHAR), 12, '0')), 1, 15))
         |      AS BIGINT)
         |  FROM p
         |  UNION ALL
         |  SELECT 'batch', b.uri, b.h
         |    FROM b JOIN (SELECT doc_id FROM documents
         |      WHERE doc_id % 7 = 3 ORDER BY doc_id LIMIT 10) tt
         |      USING (doc_id)),
         |fs AS (SELECT bucket, count(*) AS nr, min(uri) AS mnu,
         |    max(uri) AS mxu FROM b GROUP BY 1),
         |br AS (SELECT b.bucket, b.h FROM b),
         |fk AS (SELECT ks.probe, ks.k, br.bucket, ($hit) AS hit
         |  FROM br, ks GROUP BY ks.probe, ks.k, br.bucket),
         |fsel AS (SELECT probe, bucket,
         |    max(CASE WHEN hit THEN 1 ELSE 0 END) = 1 AS bsel
         |  FROM fk GROUP BY 1, 2),
         |zs AS (SELECT ks.probe, fs.bucket,
         |    max(CASE WHEN fs.mnu <= ks.k AND fs.mxu >= ks.k
         |      THEN 1 ELSE 0 END) = 1 AS zsel
         |  FROM ks, fs GROUP BY 1, 2),
         |ag AS (SELECT f.probe,
         |    CAST(sum(CASE WHEN f.bsel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS bloom_selected,
         |    CAST(sum(CASE WHEN f.bsel THEN fs.nr ELSE 0 END) AS BIGINT)
         |      AS rows_scanned,
         |    CAST(sum(CASE WHEN z.zsel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS zone_selected
         |  FROM fsel f JOIN fs USING (bucket)
         |    JOIN zs z ON z.probe = f.probe AND z.bucket = f.bucket
         |  GROUP BY 1),
         |nk AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_keys
         |  FROM ks GROUP BY 1),
         |mt AS (SELECT ks.probe,
         |    CAST(count(b.uri) AS BIGINT) AS rows_matched,
         |    CAST(coalesce(sum(b.n_chars), 0) AS BIGINT)
         |      AS chars_matched
         |  FROM ks LEFT JOIN b ON b.uri = ks.k GROUP BY 1)
         |SELECT ag.probe, nk.n_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM fs) AS n_files,
         |  ag.zone_selected, ag.bloom_selected, ag.rows_scanned,
         |  mt.rows_matched, mt.chars_matched
         |FROM ag JOIN nk USING (probe) JOIN mt USING (probe)""".stripMargin
    }),

    // SNAPSHOT RESTORE — rollback as a NEW commit (Delta RESTORE /
    // Iceberg rollback), the bad-deploy recovery move: stor24Table's
    // v5 rolls the table back to v2, undoing a positional delete AND
    // a late append era in one atomic metadata commit (files
    // re-referenced, never copied). Two proofs in one result: the
    // STATE arm reads the post-restore head grouped by year — every
    // era A/B row is back with exact cent checksums, era C gone —
    // and the CDF arm reads changes() across the restore commit,
    // whose writer-recorded changeset must be the row-level INVERSE
    // of the rolled-back commits (era B's %7 band re-inserted, era C
    // deleted). The oracle recomputes both arms from raw orders with
    // the same era cuts (1998/1999/2000 — the synthetic date domain)
    // and band arithmetic.
    Query("stor24_restore", (s, d) => {
      val t = stor24Table(s, d)
      val cents = floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")
      val state = CommitLog.read(s, t)
        .groupBy(year(col("odate")).cast("string").as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents).cast("long").as("cents"))
        .select(lit("state").as("kind"), col("grp"), col("n_rows"),
          col("cents")) // head must be exactly eras A+B (< 1999)
      val feed = CommitLog.changes(s, t, 4L, 5L)
        .groupBy(col("_change_type").as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents).cast("long").as("cents"))
        .select(lit("cdf").as("kind"), col("grp"), col("n_rows"),
          col("cents"))
      state.unionByName(feed)
    },
      // stor24: the post-restore head must be EXACTLY eras A+B (the
      // v3 delete undone, era C gone) — per-year counts and cent
      // checksums from raw orders — and the restore commit's change
      // feed must be the row-level inverse: inserts = era B's %7 band
      // (the rows the rolled-back delete had erased), deletes = era C.
      // Arms guard HAVING count(*) > 0 so an empty band degrades to an
      // absent group on both engines.
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderdate::DATE AS dt FROM orders)
        |SELECT 'state' AS kind, CAST(year(dt) AS VARCHAR) AS grp,
        |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents
        |FROM o WHERE dt < DATE '1999-01-01' GROUP BY 2
        |UNION ALL
        |SELECT 'cdf', 'insert', count(*), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE dt >= DATE '1998-01-01' AND dt < DATE '1999-01-01'
        |  AND o_orderkey % 7 = 0 HAVING count(*) > 0
        |UNION ALL
        |SELECT 'cdf', 'delete', count(*), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE dt >= DATE '1999-01-01' AND dt < DATE '2000-01-01'
        |HAVING count(*) > 0""".stripMargin),

    // The commit HISTORY metadata table (Iceberg `table$history`,
    // Delta DESCRIBE HISTORY) over the same 5-commit lifecycle: one
    // row per manifest with parent, operation tag, file-ledger counts,
    // and the changeset flag — the audit surface an operator reads
    // before ANY rollback ("what landed since the last good
    // snapshot?"). Driver-side O(log) metadata, no data bytes. The
    // oracle pins the whole ledger by construction: append arms carry
    // one file per month in their era (month counts recomputed from
    // raw orders), the delete arm exactly one positional-delete file,
    // and the restore arm removes era C's files plus the delete file
    // while carrying its changeset.
    Query("stor25_history", (s, d) => {
      CommitLog.history(s, stor24Table(s, d))
        .select(col("version"), col("parent"),
          coalesce(col("op"), lit("-")).as("op"),
          col("n_added"), col("n_removed"), col("n_pos_delete_files"),
          col("n_eq_delete_files"), col("has_changeset"))
    },
      // stor25: the whole commit ledger by construction — append arms
      // carry one file (month dir) per era month, recomputed from raw
      // orders; v3 exactly one positional-delete file; the restore
      // removes era C's month dirs plus the delete file and carries its
      // changeset.
      """WITH m AS (SELECT
        |    CAST(count(DISTINCT CASE WHEN dt < DATE '1998-01-01'
        |      THEN date_trunc('month', dt) END) AS BIGINT) AS ma,
        |    CAST(count(DISTINCT CASE WHEN dt >= DATE '1998-01-01'
        |      AND dt < DATE '1999-01-01'
        |      THEN date_trunc('month', dt) END) AS BIGINT) AS mb,
        |    CAST(count(DISTINCT CASE WHEN dt >= DATE '1999-01-01'
        |      AND dt < DATE '2000-01-01'
        |      THEN date_trunc('month', dt) END) AS BIGINT) AS mc
        |  FROM (SELECT o_orderdate::DATE AS dt FROM orders))
        |SELECT CAST(1 AS BIGINT) AS version, CAST(0 AS BIGINT) AS parent,
        |  '-' AS op, ma AS n_added, CAST(0 AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_pos_delete_files,
        |  CAST(0 AS BIGINT) AS n_eq_delete_files,
        |  CAST(0 AS BIGINT) AS has_changeset FROM m
        |UNION ALL SELECT 2, 1, '-', mb, 0, 0, 0, 0 FROM m
        |UNION ALL SELECT 3, 2, '-', 0, 0, 1, 0, 0 FROM m
        |UNION ALL SELECT 4, 3, '-', mc, 0, 0, 0, 0 FROM m
        |UNION ALL SELECT 5, 4, 'restore v2', 0, mc + 1, 0, 0, 1
        |FROM m""".stripMargin),

    // TAG-PINNED RETENTION (the Iceberg expire-keeps-tagged-snapshots
    // idea): expiry with a ref below the horizon keeps that snapshot
    // readable forever — the audit-tag contract. stor26Table runs the
    // lifecycle at build time (two COW erasure rewrites, tag `raw` at
    // v1, expire to the head); this query proves all four outcomes at
    // once: the TAGGED v1 still serves the full pre-erasure 1997 rows
    // with exact cents (through its pin checkpoint — its parent
    // manifests are gone), the head serves the post-erasure state,
    // the UNTAGGED v2 is unresolvable, and v2's intermediate rewrite
    // files — live only there — were physically reclaimed while the
    // pinned originals stayed on disk. The oracle recomputes both row
    // arms from raw orders (the two-step erasure composes to
    // `%5==0 OR %3==0` over Jan–Jun) and pins the protocol arms by
    // construction.
    Query("stor26_tagged_expiry", (s, d) => {
      val t = stor26Table(s, d)
      val cents = floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")
      def arm(label: String, v: Long) =
        CommitLog.read(s, t, Some(v))
          .agg(count(lit(1)).as("n"), sum(cents).cast("long").as("cents"))
          .select(lit(label).as("arm"), col("n"), col("cents"))
      val v2Resolvable =
        try { CommitLog.liveFiles(t, 2L); 1L }
        catch { case _: CommitLog.SnapshotExpired => 0L }
      val dd = new java.io.File(CommitLog.dataDir(t))
      val rw1Left = Option(dd.listFiles())
        .fold(Seq.empty[java.io.File])(_.toSeq)
        .count(_.getName.startsWith("rw1_")).toLong
      // breadth of the pinned snapshot — data-derived (robust to an
      // empty month at tiny SF), and reading it at all proves the
      // pinned originals are still on disk
      val months = CommitLog.read(s, t, Some(CommitLog.refVersion(t, "raw")))
        .agg(countDistinct(col("omonth")).as("n"))
        .select(lit("months_pinned").as("arm"), col("n"),
          lit(0L).as("cents"))
      arm("tag_raw", CommitLog.refVersion(t, "raw"))
        .unionByName(arm("head", CommitLog.refVersion(t, "main")))
        .unionByName(months)
        .unionByName(s.range(1).select(lit("protocol").as("arm"),
          lit(v2Resolvable * 10L + rw1Left).as("n"),
          lit(0L).as("cents")))
    },
      // stor26: the tagged snapshot serves the FULL pre-erasure 1997
      // rows; the head serves the remainder after the composed two-step
      // erasure (%5 then %3 over Jan–Jun = %5 OR %3); months_pinned is
      // the pinned snapshot's month breadth (data-derived); the protocol
      // arm packs v2-resolvable (0) and leftover intermediate files (0).
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderdate::DATE AS dt FROM orders
        |  WHERE year(o_orderdate::DATE) = 1997)
        |SELECT 'tag_raw' AS arm, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM o
        |UNION ALL
        |SELECT 'head', count(*), CAST(sum(cents) AS BIGINT) FROM o
        |WHERE NOT (month(dt) <= 6 AND (k % 5 = 0 OR k % 3 = 0))
        |UNION ALL
        |SELECT 'months_pinned',
        |  CAST(count(DISTINCT date_trunc('month', dt)) AS BIGINT),
        |  CAST(0 AS BIGINT) FROM o
        |UNION ALL
        |SELECT 'protocol', CAST(0 AS BIGINT), CAST(0 AS BIGINT)"""
        .stripMargin),

    // METADATA-ONLY AGGREGATES (the Iceberg aggregate-pushdown idea):
    // min/max answered from manifest stats with ZERO data bytes — at
    // 100 TB a full-column extremum becomes an O(manifest) driver
    // lookup. Three arms: stor13's table BEFORE the merge (bucket
    // stats fold to the raw key domain), its post-merge HEAD (the
    // fold must track the rewrite's tightened stats AND the insert
    // file's shifted keys — metadata answers stay exact across DML),
    // and stor24's MOR-delete snapshot where aggBounds REFUSES (live
    // delete files mask rows; stats describe the raw file) and the
    // reader falls back to a scan — refusal over a silently-wrong
    // answer. The oracle recomputes all three from raw orders: the
    // key domain, the band arithmetic's insert shift, and the
    // era-minus-band extremum.
    Query("stor27_meta_agg", (s, d) => {
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      val t13 = stor13Table(s, d)
      val t24 = stor24Table(s, d)
      def metaArm(label: String, v: Long) = {
        val (mn, mx) = CommitLog.aggBounds(t13, v, "o_orderkey", numCmp)
          .getOrElse(sys.error(s"$label: stats-complete table must " +
            "answer from metadata"))
        s.range(1).select(lit(label).as("arm"),
          lit("manifest").as("src"),
          lit(mn.toLong).as("mn"), lit(mx.toLong).as("mx"))
      }
      // the MOR snapshot refuses metadata bounds -> scan fallback
      require(CommitLog.aggBounds(t24, 3L, "o_orderkey", numCmp).isEmpty,
        "live delete files must refuse metadata aggregates")
      val fallback = CommitLog.read(s, t24, Some(3L))
        .agg(min(col("o_orderkey")).as("mn"),
          max(col("o_orderkey")).as("mx"))
        .select(lit("mor_v3").as("arm"), lit("scan").as("src"),
          col("mn"), col("mx"))
      metaArm("v1", 1L).unionByName(metaArm("head", 2L))
        .unionByName(fallback)
    },
      // stor27: v1 metadata bounds = the raw key domain; head bounds =
      // min unchanged (the key 1..rank-n/4 region is never in the
      // band), max shifted by the insert arm (mx + the largest band key
      // with k%3=2, or unshifted when the band has no insert keys);
      // the MOR arm = era A+B keys minus era-B's %7 band, scanned.
      """WITH p AS (SELECT max(o_orderkey) AS mx, count(*) AS n
        |  FROM orders),
        |rk AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
        |bnd AS (SELECT
        |    (SELECT o_orderkey + 1 FROM rk, p WHERE rn = p.n // 4)
        |      AS lo,
        |    (SELECT o_orderkey + 1 FROM rk, p
        |      WHERE rn = p.n // 4 + p.n // 20) AS hi),
        |ins AS (SELECT max(o.o_orderkey) AS mk
        |  FROM orders o CROSS JOIN bnd
        |  WHERE o.o_orderkey >= bnd.lo AND o.o_orderkey < bnd.hi
        |    AND o.o_orderkey % 3 = 2)
        |SELECT 'v1' AS arm, 'manifest' AS src,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders
        |UNION ALL
        |SELECT 'head', 'manifest',
        |  (SELECT min(o_orderkey) FROM orders),
        |  p.mx + coalesce(ins.mk, 0) FROM p CROSS JOIN ins
        |UNION ALL
        |SELECT 'mor_v3', 'scan', min(o_orderkey), max(o_orderkey)
        |FROM orders
        |WHERE o_orderdate::DATE < DATE '1999-01-01'
        |  AND NOT (o_orderdate::DATE >= DATE '1998-01-01'
        |    AND o_orderkey % 7 = 0)""".stripMargin),

    // COLUMN MAPPING (the Delta column-mapping / Iceberg field-id
    // idea): rename and drop as O(1) metadata commits over FROZEN
    // physical names — no file rewritten at any scale, which at
    // 100 TB is the difference between an instant ALTER TABLE and a
    // full-table rewrite. The head serves both eras' files under the
    // renamed column with the dropped column hidden; time travel
    // serves v1 under its original names; exact column sets are
    // pinned by loud requires and the ledger arm. The oracle
    // recomputes both row arms from raw orders.
    Query("stor28_column_mapping", (s, d) => {
      val t = stor28Table(s, d)
      val head = CommitLog.read(s, t)
      require(head.columns.toSeq == Seq("o_orderkey", "price"),
        s"head must serve the mapped schema, got " +
          head.columns.mkString(","))
      val v1 = CommitLog.read(s, t, Some(1L))
      require(v1.columns.toSeq ==
        Seq("o_orderkey", "o_totalprice", "odate"),
        s"v1 must serve its era's names, got ${v1.columns.mkString(",")}")
      def cents(c: String) = floor(col(c) * 100 + lit(0.5)).cast("long")
      head.agg(count(lit(1)).as("n"),
          sum(cents("price")).cast("long").as("cents"))
        .select(lit("head").as("arm"), col("n"), col("cents"))
        .unionByName(v1.agg(count(lit(1)).as("n"),
            sum(cents("o_totalprice")).cast("long").as("cents"))
          .select(lit("v1_oldname").as("arm"), col("n"), col("cents")))
        .unionByName(s.range(1).select(lit("schema").as("arm"),
          lit(head.columns.length.toLong).as("n"),
          lit(v1.columns.length.toLong).as("cents")))
    },
      // stor28: head = both eras under the mapped name; v1 = 1997 under
      // its era's name; schema arm = (head cols, v1 cols) constants.
      """WITH o AS (SELECT
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    year(o_orderdate::DATE) AS y FROM orders)
        |SELECT 'head' AS arm, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM o
        |WHERE y IN (1997, 1998)
        |UNION ALL
        |SELECT 'v1_oldname', count(*), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE y = 1997
        |UNION ALL
        |SELECT 'schema', CAST(2 AS BIGINT), CAST(3 AS BIGINT)"""
        .stripMargin),

    // ONE-COMMIT MOR UPSERT (the Hudi upsert / Iceberg eq-delete +
    // data-file shape, vs stor13's synchronous COW merge): the batch
    // file and its keys publish atomically; the sequence rule (an
    // equality delete applies only to STRICTLY OLDER files) keeps the
    // batch from deleting itself, so updated keys serve the batch's
    // row, untouched keys the original, and inserts appear — with
    // O(batch) bytes written and zero files rewritten. Arms: the MOR
    // state (anti-join read), the updated keys (price must equal the
    // key), the inserted keys (above the old key domain), the FOLD
    // (v3 materializes the upsert into one file, retiring the eq
    // file — identical rows, zero-anti-join scan restored), and the
    // file ledger (one eq file at v2, none at v3, one data file
    // after the fold). The oracle recomputes the row arms from raw
    // orders' 1997 era and %10 arithmetic.
    Query("stor29_mor_upsert", (s, d) => {
      val t = stor29Table(s, d)
      val mx = Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      // v2 = the MOR state (anti-join read path); v3 = the fold
      val mor = CommitLog.read(s, t, Some(2L))
      val cents = floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")
      def arm(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"),
            sum(cents).cast("long").as("cents"))
          .select(lit(label).as("arm"), col("n"), col("cents"))
      val ledger = s.range(1).select(lit("ledger").as("arm"),
        lit(CommitLog.liveEqDeleteFiles(t, 2L).size * 10L +
          CommitLog.liveEqDeleteFiles(t, 3L).size).as("n"),
        lit(CommitLog.liveFiles(t, 3L).size.toLong).as("cents"))
      arm("head", mor)
        .unionByName(arm("updated",
          mor.filter(col("o_orderkey") % 10 === 0 &&
            col("o_orderkey") <= mx)))
        .unionByName(arm("inserted",
          mor.filter(col("o_orderkey") > mx)))
        .unionByName(arm("folded", CommitLog.read(s, t, Some(3L))))
        .unionByName(ledger)
    },
      // stor29: head = 1997 with %10==0 keys repriced to the key, plus
      // %10==5 keys re-inserted above the global key domain at price k;
      // updated/inserted arms recompute the same %10 arithmetic.
      """WITH p AS (SELECT max(o_orderkey) AS mx FROM orders),
        |o97 AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents0
        |  FROM orders WHERE year(o_orderdate::DATE) = 1997),
        |hd AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN k % 10 = 0 THEN k * 100
        |      ELSE cents0 END) AS BIGINT) AS cents FROM o97),
        |ins AS (SELECT count(*) AS n,
        |    CAST(coalesce(sum(k * 100), 0) AS BIGINT) AS cents
        |  FROM o97 WHERE k % 10 = 5),
        |upd AS (SELECT count(*) AS n,
        |    CAST(coalesce(sum(k * 100), 0) AS BIGINT) AS cents
        |  FROM o97 WHERE k % 10 = 0)
        |SELECT 'head' AS arm, hd.n + ins.n AS n,
        |  CAST(hd.cents + ins.cents AS BIGINT) AS cents
        |FROM hd CROSS JOIN ins
        |UNION ALL
        |SELECT 'updated', n, cents FROM upd
        |UNION ALL
        |SELECT 'inserted', n, cents FROM ins
        |UNION ALL
        |SELECT 'folded', hd.n + ins.n,
        |  CAST(hd.cents + ins.cents AS BIGINT)
        |FROM hd CROSS JOIN ins
        |UNION ALL
        |SELECT 'ledger', CAST(10 AS BIGINT), CAST(1 AS BIGINT)"""
        .stripMargin),

    // ROW LINEAGE (the Iceberg `_snapshot_id` / Delta row-tracking
    // idea at file granularity): every row tagged with the commit
    // that FIRST added its file, derived at read time from the
    // replayed (file → version) map broadcast against the scan's
    // metadata path — zero data rewritten, no table redesign, and the
    // audit query "which commit produced these rows?" works at any
    // scale. Two arms over stor24's lifecycle: the MOR snapshot v3
    // (era B minus the %7 band, every row tagging its true era) and
    // the post-restore head (the un-deleted band rows return STILL
    // tagging era B's commit — lineage is the content's age, not the
    // rollback's). The oracle recomputes both from era/band
    // arithmetic.
    Query("stor30_row_lineage", (s, d) => {
      val t = stor24Table(s, d)
      val cents = floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")
      def arm(label: String, v: Long) =
        CommitLog.readWithLineage(s, t, Some(v))
          .groupBy(col("_commit_version"))
          .agg(count(lit(1)).as("n"), sum(cents).cast("long").as("cents"))
          .select(lit(label).as("arm"), col("_commit_version"),
            col("n"), col("cents"))
      arm("mor_v3", 3L).unionByName(arm("head", 5L))
    },
      // stor30: per-commit row groups from era arithmetic — era A
      // (< 1998) tags v1, era B (1998) tags v2; the MOR arm drops era
      // B's %7 keys, the head arm restores them (same v2 tag).
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderdate::DATE AS dt FROM orders
        |  WHERE o_orderdate::DATE < DATE '1999-01-01'),
        |t AS (SELECT *,
        |    CASE WHEN dt < DATE '1998-01-01' THEN 1 ELSE 2 END AS cv,
        |    (dt >= DATE '1998-01-01' AND k % 7 = 0) AS banded
        |  FROM o)
        |SELECT 'mor_v3' AS arm, CAST(cv AS BIGINT) AS _commit_version,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM t WHERE NOT banded GROUP BY 2
        |UNION ALL
        |SELECT 'head', CAST(cv AS BIGINT), count(*),
        |  CAST(sum(cents) AS BIGINT) FROM t GROUP BY 2""".stripMargin),

    // COPY-ON-WRITE MERGE through the commit log — update + delete +
    // insert in ONE atomic commit, completing the DML triangle
    // (append stor7/9, compaction rewrite stor8, delete stor11). The
    // table is laid out in contiguous KEY-RANGE files so the merge
    // keys' stats actually prune: the changeset touches one narrow
    // band (~5% of the key space), planScan selects only the 1-2
    // overlapping files, ONLY those are rewritten (updates applied,
    // deletes dropped), and the brand-new keys land as one appended
    // file — at 100 TB a MERGE priced by the changeset's key
    // footprint, not the table. Every measured column has relational
    // ground truth: the file ledger from the log + planScan, the
    // update count from the head rows that actually carry the new
    // price, inserts from keys above the old max, and exact cent
    // checksums before/after. The oracle recomputes the band
    // arithmetic, the bucket layout, and both checksums from raw
    // orders.
    Query("stor13_cow_merge", (s, d) => {
      val t = stor13Table(s, d)
      val numCmp = (a: String, b: String) => a.toLong.compare(b.toLong)
      // mx from v1 manifest stats — metadata-only, no data read
      val mx = CommitLog.statsAt(t, 1L).values
        .map(_("o_orderkey").max.toLong).max
      // band bounds are RANK-derived (sparsity-proof — see
      // stor13Table): the key at ascending rank n/4 (+1) .. rank
      // n/4 + n/20 (+1), recomputed from the v1 snapshot with the
      // same orderBy+limit+max form the builder used
      val v1 = CommitLog.read(s, t, Some(1L))
      val nOrd = v1.agg(count(lit(1))).head().getLong(0)
      def keyAtRank(r: Long): Long = v1
        .orderBy(col("o_orderkey")).limit(r.toInt)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val bandLo = keyAtRank(nOrd / 4L) + 1L
      val bandHi = keyAtRank(nOrd / 4L + nOrd / 20L) + 1L
      val plan = CommitLog.planScan(t, 1L, Seq(
        CommitLog.RangePredicate("o_orderkey", bandLo.toString,
          bandHi.toString, numCmp)))
      val v1Files = CommitLog.liveFiles(t, 1L)
      val headFiles = CommitLog.liveFiles(t, 2L)
      val untouched = v1Files.toSet.intersect(headFiles.toSet).size
      val cents = sum(floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long")).cast("long")
      val inBand = col("o_orderkey") >= bandLo &&
        col("o_orderkey") < bandHi
      val v1Agg = CommitLog.read(s, t, Some(1L))
        .agg(count(lit(1)).as("rows_at_v1"),
          cents.as("sum_price_cents_v1"))
      val headAgg = CommitLog.read(s, t)
        .agg(count(lit(1)).as("rows_head"),
          cents.as("sum_price_cents_head"),
          // updates verified by VALUE: band keys that carry price = key
          sum(when(inBand && col("o_orderkey") % 3 === 0 &&
            col("o_totalprice") === col("o_orderkey").cast("double"),
            1L).otherwise(0L)).as("n_updated"),
          // inserts are exactly the keys above the old max
          sum(when(col("o_orderkey") > mx, 1L).otherwise(0L))
            .as("n_inserted"))
      v1Agg.crossJoin(broadcast(headAgg))
        .select(lit(v1Files.size.toLong).as("n_files_v1"),
          lit(plan.selected.size.toLong).as("n_candidates"),
          lit(headFiles.count(_.startsWith("rw2_")).toLong)
            .as("n_rewritten"),
          lit(headFiles.count(_.startsWith("ins_")).toLong)
            .as("n_appended"),
          lit(untouched.toLong).as("n_untouched"),
          col("rows_at_v1"), col("rows_head"),
          col("n_updated"), col("n_inserted"),
          (col("rows_at_v1") + col("n_inserted") - col("rows_head"))
            .as("n_deleted"),
          col("sum_price_cents_v1"), col("sum_price_cents_head"))
    },
      // stor13: the merge band, the key-bucket layout, and both cent
      // checksums recomputed from raw orders. Updated rows are worth
      // k*100 cents exactly (price := key, integer-valued double);
      // inserted keys live above the old max so they can't collide with
      // the band arithmetic.
      """WITH p AS (SELECT max(o_orderkey) AS mx, count(*) AS n,
        |    (max(o_orderkey) + 19) // 20 AS step
        |  FROM orders),
        |rk AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
        |bnd AS (SELECT
        |    (SELECT o_orderkey + 1 FROM rk, p WHERE rn = p.n // 4)
        |      AS lo,
        |    (SELECT o_orderkey + 1 FROM rk, p
        |      WHERE rn = p.n // 4 + p.n // 20) AS hi),
        |b AS (SELECT o.o_orderkey AS k, o.o_totalprice AS pr,
        |    (o.o_orderkey - 1) // p.step AS bucket,
        |    (o.o_orderkey >= bnd.lo AND o.o_orderkey < bnd.hi) AS band
        |  FROM orders o CROSS JOIN p CROSS JOIN bnd),
        |f AS (SELECT bucket, min(k) AS mn, max(k) AS mxk,
        |    CAST(sum(CASE WHEN band AND k % 3 = 1 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_kept
        |  FROM b GROUP BY 1),
        |fc AS (SELECT f.*,
        |    NOT (f.mxk < bnd.lo OR f.mn >= bnd.hi) AS cand
        |  FROM f CROSS JOIN bnd),
        |ledger AS (SELECT count(*) AS n_files_v1,
        |    CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_candidates,
        |    CAST(sum(CASE WHEN cand AND n_kept > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rewritten,
        |    CAST(sum(CASE WHEN cand THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_untouched
        |  FROM fc),
        |r AS (SELECT count(*) AS rows_at_v1,
        |    CAST(sum(CAST(floor(pr * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_price_cents_v1,
        |    CAST(sum(CASE WHEN band AND k % 3 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_updated,
        |    CAST(sum(CASE WHEN band AND k % 3 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_deleted,
        |    CAST(sum(CASE WHEN band AND k % 3 = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inserted,
        |    CAST(sum(CASE WHEN band AND k % 3 = 1 THEN 0
        |        WHEN band AND k % 3 = 0 THEN k * 100
        |        ELSE CAST(floor(pr * 100 + 0.5) AS BIGINT) END)
        |      + sum(CASE WHEN band AND k % 3 = 2 THEN k * 100
        |        ELSE 0 END) AS BIGINT) AS sum_price_cents_head
        |  FROM b)
        |SELECT ledger.n_files_v1, ledger.n_candidates,
        |  ledger.n_rewritten,
        |  CAST(CASE WHEN r.n_inserted > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_appended,
        |  ledger.n_untouched, r.rows_at_v1,
        |  r.rows_at_v1 + r.n_inserted - r.n_deleted AS rows_head,
        |  r.n_updated, r.n_inserted, r.n_deleted,
        |  r.sum_price_cents_v1, r.sum_price_cents_head
        |FROM ledger CROSS JOIN r""".stripMargin),

    // SCHEMA EVOLUTION through the commit log — the add-column
    // contract every long-lived 100 TB table eventually needs: v1
    // committed pre-1997 months under the original schema, v2 appended
    // later months carrying a NEW `qty_band` column. No rewrite of old
    // data (at scale that would be a full-table job for a metadata
    // change): the merged head read surfaces the union schema with
    // pre-evolution rows null-banded, while time travel to v1 serves
    // the ORIGINAL 4-column schema untouched — both widths are
    // reported from the actual read schemas, so the oracle's
    // by-construction 4/5 pins them. Row results recompute relationally
    // (band = the evolved writer's expression after the cutover, a
    // sentinel before it).
    Query("stor12_schema_evolution", (s, d) => {
      val t = stor12Table(s, d)
      val v1 = CommitLog.read(s, t, Some(1L))
      require(!v1.columns.contains("qty_band"),
        "time travel must serve the pre-evolution schema")
      val head = CommitLog.read(s, t, None, Map("mergeSchema" -> "true"))
      head.groupBy(coalesce(col("qty_band"), lit("pre_evolution"))
          .as("qty_band"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
            .cast("long").as("sum_qty_cents"))
        .select(col("qty_band"), col("n_rows"), col("sum_qty_cents"),
          lit(v1.columns.length.toLong).as("n_cols_v1"),
          lit(head.columns.length.toLong).as("n_cols_head"))
    },
      // stor12: band = the evolved writer's expression after the 1996-12
      // cutover, the sentinel before it; schema widths are
      // by-construction (4 original cols incl. the partition column, +1
      // after evolution) — the Spark side reports them from the ACTUAL
      // read schemas, so a regression fails the hash.
      """SELECT CASE WHEN date_trunc('month', l_shipdate)::DATE
        |    > DATE '1996-12-01'
        |    THEN (CASE WHEN l_quantity < 25 THEN 'lo' ELSE 'hi' END)
        |    ELSE 'pre_evolution' END AS qty_band,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_qty_cents,
        |  CAST(4 AS BIGINT) AS n_cols_v1,
        |  CAST(5 AS BIGINT) AS n_cols_head
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Parquet ENCODING tradeoff — the third axis of physical design
    // after placement (stor1) and clustering (stor2/stor4): the same
    // lineitem rows written under codec × dictionary variants
    // (zstd/snappy/none, dict on/off), then each variant SCANNED BACK
    // with exact integer checksums. What the oracle proves is
    // round-trip LOSSLESSNESS (every variant returns the identical
    // multiset — layout and encoding are execution properties, the
    // result is invariant); what the measured artifact records
    // (BASELINE.md; stderr at build) is the size/scan-time curve a
    // 100 TB table chooses its storage format from: dictionary does
    // most of the work on low-cardinality columns, zstd compounds it,
    // and the scan-time delta is the decompression tax paid on every
    // read forever. Bench times the 6-scan read path (writes are
    // amortized by the build-once cache, exactly stor1's economics).
    Query("stor5_encoding_tradeoff", (s, d) => {
      encodedPaths(s, d).map { case (codec, dict, path) =>
        s.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
            .cast("long").as("sum_qty_cents"),
          sum(col("l_orderkey")).cast("long").as("sum_okey"))
          .select(lit(codec).as("codec"), lit(dict).as("dictionary"),
            col("n_rows"), col("sum_qty_cents"), col("sum_okey"))
      }.reduce(_.unionByName(_))
    },
      // stor5: encoding-invariant read-back — every variant must return
      // the source table's exact row count and integer checksums.
      """WITH agg AS (SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sum_qty_cents,
        |    CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
        |  FROM lineitem),
        |v(codec, dictionary) AS (VALUES
        |  ('uncompressed', true), ('uncompressed', false),
        |  ('snappy', true), ('snappy', false),
        |  ('zstd', true), ('zstd', false))
        |SELECT v.codec, v.dictionary, agg.n_rows, agg.sum_qty_cents,
        |  agg.sum_okey
        |FROM v CROSS JOIN agg""".stripMargin),
    // Fact-fact join with ZERO exchange on either input: both sides are
    // written bucketed by the join key (16 buckets, sorted within
    // bucket) and re-read through the catalog, so the sort-merge join
    // consumes bucket i of orders against bucket i of lineitem with no
    // shuffle at all — the only exchange in the plan is the final
    // 5-group aggregate. This is THE big-join discipline at 100 TB:
    // pay the shuffle once at write time, then every subsequent join
    // on the key is shuffle-free (co-located, and with one file per
    // bucket, sort-free). The merge hint forces the SMJ so the demo
    // cannot silently degrade to a broadcast at toy scale; the write
    // lands in a build-once dir (layout is a cache, not a result). The
    // LAYOUT BUILD runs once per build-once key, so the benched cost is
    // the exchange-free READ path, exactly the economics bucketing buys:
    // pay the shuffle once at write time, amortize over every read.
    // Revenue is summed EXACTLY: a double sum depends on summation
    // order, and a group whose exact revenue ends in a half cent then
    // rounds either way on each engine. Price (whole cents) times
    // 1 - discount (whole percent) is a whole number of 1e-4 units, so
    // the sum runs in LONG arithmetic — the value of the oracle's
    // DECIMAL(15,2) sum without per-row BigDecimal work.
    Query("stor1_bucketed_join", (s, d) => {
      val (obName, lbName) = bucketedTables(s, d)
      val hundredths = (c: Column) => floor(c * 100 + lit(0.5))
      s.table(obName).hint("merge")
        .join(s.table(lbName).hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(hundredths(col("l_extendedprice")) *
            hundredths(lit(1) - col("l_discount"))).cast("decimal(38,4)") / 10000, 2)
            .cast("double").as("revenue"))
    },
      // Layout-independent result of the bucketed join: the same
      // orders⋈lineitem aggregate straight off the parquet.
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
        |    * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),

    // Zone maps over a range-clustered layout: model each shipdate
    // month as one data file (exactly what ParquetSink's partitioned
    // write produces), compute the per-file min/max zone map over the
    // sort key AND a non-clustered column, and evaluate the skip
    // decision for a 3-month scan predicate — ~80 files, ~77 skipped
    // without reading a row. The zone-map build is ONE hash aggregate
    // (map-side partials, O(files) exchange); the skip test is pure
    // min/max interval logic, the same test every parquet reader runs
    // against row-group statistics. The point the family documents:
    // skipping only works on CLUSTERED columns — l_orderkey is random
    // w.r.t. shipdate (corr ~0.001 in this data), so its per-file
    // range is the full domain and its `key_skippable` flag is false
    // on every file, while the clustered shipdate prunes 96% of them.
    Query("stor2_zonemap", (s, d) => {
      val lo = lit(java.sql.Date.valueOf("1997-04-01"))
      val hi = lit(java.sql.Date.valueOf("1997-07-01")) // end-exclusive
      val zm = Tables.lineitem(s, d)
        .select(date_trunc("month", col("l_shipdate")).cast("date")
            .as("file_month"),
          col("l_shipdate").cast("date").as("ship"), col("l_orderkey"))
        .groupBy("file_month")
        .agg(count(lit(1)).as("n_rows"),
          min(col("ship")).as("min_ship"), max(col("ship")).as("max_ship"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
      zm.select(col("file_month"), col("n_rows"),
        col("min_ship"), col("max_ship"), col("min_key"), col("max_key"),
        (col("max_ship") < lo || col("min_ship") >= hi).as("date_skipped"),
        // same predicate shape on the UNclustered key column: the
        // whole-domain ranges make this false everywhere — the
        // negative control that shows clustering, not zone maps, does
        // the pruning
        (col("max_key") < lit(1000L) || col("min_key") >= lit(2000L))
          .as("key_skippable"))
    },
      """WITH zm AS (SELECT date_trunc('month', l_shipdate)::DATE
        |    AS file_month,
        |  count(*) AS n_rows,
        |  min(l_shipdate::DATE) AS min_ship,
        |  max(l_shipdate::DATE) AS max_ship,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |  FROM lineitem GROUP BY 1)
        |SELECT file_month, n_rows, min_ship, max_ship, min_key, max_key,
        |  (max_ship < DATE '1997-04-01' OR min_ship >= DATE '1997-07-01')
        |    AS date_skipped,
        |  (max_key < 1000 OR min_key >= 2000) AS key_skippable
        |FROM zm""".stripMargin),

    // Compaction planning: bin-pack the month-files above into
    // ~4 MB-target compaction groups by a running-sum admission over
    // the (tiny) file-metadata table — the "small files problem"
    // planner every long-lived 100 TB table needs after streaming
    // ingest. Estimated bytes = rows × a fixed 64 B/row figure (the
    // planner's input is metadata, not data). The window is a single
    // ordered pass over O(files) rows — file metadata is orders of
    // magnitude smaller than data, which is exactly why compaction
    // planning is driver-cheap while compaction itself is the
    // cluster-wide rewrite. Bin id = start-offset div target, the
    // x15 running-sum admission shape: consecutive months pack until
    // the target fills, never splitting a file.
    // Z-ORDER vs LINEAR clustering, measured (completes the layout
    // family: stor1 buys the join, stor2 shows 1-D skipping, this
    // query QUANTIFIES why multi-dimensional predicates need a
    // multi-dimensional layout): the same lineitem rows are assigned
    // to 64 equal-row model "files" under two sort keys — linear
    // (day-major, partkey-minor lexicographic) and the bit-interleaved
    // z-value (f8's curve) — via the DISTRIBUTED rank
    // (RelationalOps.globalRowNumber, no global sort), per-file
    // min/max zone maps are built over BOTH dimensions, and a 2-D box
    // predicate (ship year 1997 AND a narrow partkey band) is tested
    // against each file's zone map. The linear layout prunes only on
    // its major dimension (every file spans the full partkey domain);
    // the z-order layout prunes on both — the n_skipped/rows_scanned
    // contrast IS the case for z-ordering 100 TB fact tables. All
    // integer (masked day/partkey, exact rank, integer-div file ids);
    // tied sort keys determine both zone-map dims, so rank ties
    // cannot flip a zone map across engines.
    Query("stor4_zorder_skip", (s, d) => {
      import graft.operators.RelationalOps
      val base = Tables.lineitem(s, d).select(
        datediff(col("l_shipdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long")
          .bitwiseAND(lit(4095L)).as("dm"),
        col("l_partkey").bitwiseAND(lit(4095L)).as("pk"),
        col("l_orderkey"), col("l_linenumber"))
      val n1 = base.agg(count(lit(1)).as("n_rows"))
      // Both sort keys are bounded 24-bit integers (dm,pk ≤ 4095 →
      // linear = dm·4096+pk < 2^24; the 12-bit interleave < 2^24), so
      // the rank's range buckets come straight off the key (k >> 16:
      // ≤256 ids, monotone, tie-safe) — no sampling job, no per-row
      // boundary fold, the whole bucket assignment is one shift.
      // OPT r18 (guide §2.4): the two layouts used to run two SEPARATE
      // rank pipelines over the same projected fact frame (each with
      // its own offsets + localized branches — ~4 scans, two window
      // machineries, then a union). Stacking the layouts (a 2-row
      // explode per input row) ranks BOTH in one grouped prefix
      // pipeline partitioned by layout: same per-layout ordering, same
      // bucket math, identical zone maps — half the stages. At 100 TB
      // the stacked pass reads the fact rows once instead of per
      // layout.
      val stacked = base.select(col("dm"), col("pk"),
        col("l_orderkey"), col("l_linenumber"), explode(array(
          struct(lit("linear").as("layout"),
            (col("dm") * 4096 + col("pk")).as("k")),
          struct(lit("zorder").as("layout"),
            RelationalOps.zValue2(col("dm"), col("pk"), 12).as("k"))))
          .as("x"))
        .select(col("dm"), col("pk"), col("l_orderkey"),
          col("l_linenumber"), col("x.layout").as("layout"),
          col("x.k").as("k"))
      val zone = RelationalOps.groupedRowNumber(stacked, Seq("layout"),
          Seq(col("k").asc, col("l_orderkey").asc,
            col("l_linenumber").asc), col("k"), "rk",
          bucket = Some(shiftright(col("k"), 16)))
        .crossJoin(broadcast(n1))
        .withColumn("file_id",
          expr("(rk - 1) div ((n_rows + 63) div 64)"))
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("dm")).as("min_d"), max(col("dm")).as("max_d"),
          min(col("pk")).as("min_p"), max(col("pk")).as("max_p"))
      // 2-D box: ship day in 1997 (1827..2191) AND partkey 100..300
      val skipped = col("max_d") < 1827 || col("min_d") > 2191 ||
        col("max_p") < 100 || col("min_p") > 300
      zone
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(skipped, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(!skipped, col("n_rows")).otherwise(0L))
            .as("rows_scanned"))
    },
      // stor4: same masked dims, same two sort keys (zSql = the exact
      // interleave the Spark side computes), same rank → integer-div
      // file assignment, same zone maps and 2-D box. Rank ties are
      // identical in (dm, pk), so tie order cannot change a zone map.
      s"""WITH base AS (SELECT
         |    CAST(date_diff('day', DATE '1992-01-01',
         |      l_shipdate::DATE) AS BIGINT) & 4095 AS dm,
         |    CAST(l_partkey AS BIGINT) & 4095 AS pk,
         |    l_orderkey, l_linenumber
         |  FROM lineitem),
         |n AS (SELECT count(*) AS nt FROM base),
         |lin AS (SELECT dm, pk, row_number() OVER (ORDER BY
         |    dm * 4096 + pk, l_orderkey, l_linenumber) AS rk
         |  FROM base),
         |zo AS (SELECT dm, pk, row_number() OVER (ORDER BY
         |    ${QueriesFunctions.zSql("dm", "pk", 12)},
         |    l_orderkey, l_linenumber) AS rk
         |  FROM base),
         |lf AS (SELECT 'linear' AS layout,
         |    (rk - 1) // ((nt + 63) // 64) AS file_id, dm, pk
         |  FROM lin, n),
         |zf AS (SELECT 'zorder' AS layout,
         |    (rk - 1) // ((nt + 63) // 64) AS file_id, dm, pk
         |  FROM zo, n),
         |zm AS (SELECT layout, file_id, count(*) AS nr,
         |    min(dm) AS min_d, max(dm) AS max_d,
         |    min(pk) AS min_p, max(pk) AS max_p
         |  FROM (SELECT * FROM lf UNION ALL SELECT * FROM zf)
         |  GROUP BY 1, 2)
         |SELECT layout, count(*) AS n_files,
         |  CAST(sum(CASE WHEN max_d < 1827 OR min_d > 2191
         |    OR max_p < 100 OR min_p > 300 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_skipped,
         |  CAST(sum(CASE WHEN max_d < 1827 OR min_d > 2191
         |    OR max_p < 100 OR min_p > 300 THEN 0 ELSE nr END)
         |    AS BIGINT) AS rows_scanned
         |FROM zm GROUP BY 1""".stripMargin),

    Query("stor3_compaction_plan", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val BytesPerRow = 64L
      val Target = 4L * 1024 * 1024
      val files = Tables.lineitem(s, d)
        .select(date_trunc("month", col("l_shipdate")).cast("date")
          .as("file_month"))
        .groupBy("file_month")
        .agg((count(lit(1)) * BytesPerRow).as("est_bytes"))
      val w = Window.orderBy(col("file_month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("end_off", sum(col("est_bytes")).over(w))
        .withColumn("bin",
          ((col("end_off") - col("est_bytes")) / Target).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum(col("est_bytes")).as("bytes"),
          min(col("file_month")).as("from_month"),
          max(col("file_month")).as("to_month"))
    },
      """WITH f AS (SELECT date_trunc('month', l_shipdate)::DATE
        |    AS file_month, count(*) * 64 AS est_bytes
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT file_month, est_bytes,
        |  sum(est_bytes) OVER (ORDER BY file_month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
        |  FROM f)
        |SELECT CAST(floor((end_off - est_bytes) / 4194304.0) AS BIGINT)
        |    AS bin,
        |  count(*) AS n_files, CAST(sum(est_bytes) AS BIGINT) AS bytes,
        |  min(file_month) AS from_month, max(file_month) AS to_month
        |FROM o GROUP BY 1""".stripMargin
  ))

}
