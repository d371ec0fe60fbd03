package graft.storage

import java.io.File
import java.nio.file.Files

/** MULTI-TABLE ATOMIC COMMIT (VERDICT r17 #6) — a transaction log one
  * level above [[CommitLog]] tables, so a fact table and its derived
  * aggregate (the reference's K1+K3 pair,
  * weather_report_data_full_load_pipeline.py:171-177: full table +
  * report written by one job) become visible as ONE action: readers
  * see neither table's rows or both, never a half-committed pair.
  *
  * Protocol (two-phase, single atomic commit point):
  *
  *  1. **STAGE** ([[stage]]): each participating table's intended
  *     (added, removed) file lists are published as a staged body
  *     `_log/_staged/t<txnId>.txt` under that table's OWN log — via
  *     the same claim-or-fail [[CommitLog.PublishPrimitive]] as every
  *     other log write. Staged bodies are invisible to every reader
  *     (version replay never parses them) and anchor the staged DATA
  *     files against [[CommitLog.vacuumOrphans]].
  *  2. **MARK** ([[commitMarker]]): ONE atomic claim of
  *     `<coordDir>/txn/t<txnId>.txt` naming the participants. This is
  *     THE commit point: before it no table can expose the txn; after
  *     it the txn is durable in every table.
  *  3. **EXPOSE** ([[recover]]): each staged body is folded into its
  *     table's version log as a normal manifest carrying the txn id
  *     as a `B` ledger line — the SAME checkpoint-aware exactly-once
  *     ledger [[CommitLog.appendBatch]] rides — so expose is
  *     idempotent per (table, txn): a crash mid-expose, a racing
  *     recoverer, or a replay all land each txn exactly once.
  *
  * Crash matrix: before MARK — nothing visible anywhere; the staged
  * bodies are debris ([[abort]] removes them and the vacuum reclaims
  * their data files). After MARK — [[recover]] (run by the committer's
  * own tail, a janitor, or any reader routing through [[read]], the
  * catalog-service discipline) completes the remaining exposures; a
  * reader of table A may see the txn moments before a reader of table
  * B only if B's reader skips recovery, which is why `read` runs it.
  *
  * Txn ids share each table's batch-id ledger namespace with
  * streaming appendBatch ids — deployments partition the space (e.g.
  * txn ids above 2^40); the collision is loud (a colliding id simply
  * refuses to expose) never silent double-apply.
  *
  * At 100 TB the economics match the single-table log: staging moves
  * the data, MARK is one O(1) metadata claim, expose is one manifest
  * write per table — no cross-table lock, no coordinator in the data
  * path.
  */
object TxnLog {

  /** One table's contribution to a transaction. */
  final case class Part(tableDir: String, added: Seq[String],
      removed: Seq[String] = Nil)

  private def stagedDir(tableDir: String): File =
    new File(CommitLog.logDir(tableDir), "_staged")

  private def txnDir(coordDir: String): File = new File(coordDir, "txn")

  private def txnName(txnId: Long): String = s"t$txnId.txt"

  /** Phase 1: publish each part's staged body under its table's log.
    * Claim-or-fail per (table, txn) — re-staging an id that already
    * staged (or a replayed committer) throws instead of silently
    * diverging from what a marker may already reference.
    */
  def stage(txnId: Long, parts: Seq[Part]): Unit = {
    require(txnId >= 0L, s"txn id must be non-negative, got $txnId")
    require(parts.nonEmpty, "a transaction needs at least one part")
    require(parts.map(_.tableDir).distinct.size == parts.size,
      "one part per table: duplicate tableDirs in the txn")
    parts.foreach { p =>
      // a SPENT id (already exposed into this table) must refuse even
      // though exposure freed the staged-body name: the ledger, not
      // the body, is the id's lifetime record
      require(!CommitLog.committedBatchIds(p.tableDir).contains(txnId),
        s"txn $txnId already exposed into ${p.tableDir}")
      require(CommitLog.publishAtomicIn(stagedDir(p.tableDir),
        txnName(txnId), Manifest(added = p.added, removed = p.removed).render),
        s"txn $txnId already staged in ${p.tableDir}")
    }
  }

  /** Phase 2 — THE COMMIT POINT: one atomic claim of the coordinator
    * marker naming the participant tables. Throws when the id was
    * already committed.
    */
  def commitMarker(coordDir: String, txnId: Long,
      tables: Seq[String]): Unit = {
    require(tables.nonEmpty, "a txn marker needs participant tables")
    require(tables.forall(t => !t.contains('\n')),
      "table dirs must be single-line")
    require(CommitLog.publishAtomicIn(txnDir(coordDir), txnName(txnId),
      tables.sorted.map("T " + _).mkString("", "\n", "\n")),
      s"txn $txnId already committed")
  }

  /** Stage + mark + expose in one call — the normal committer path.
    * Returns the per-table exposed versions.
    */
  def commitAll(coordDir: String, txnId: Long,
      parts: Seq[Part]): Map[String, Long] = {
    stage(txnId, parts)
    commitMarker(coordDir, txnId, parts.map(_.tableDir))
    recover(coordDir)
    parts.map(p => p.tableDir -> CommitLog.latestVersion(p.tableDir))
      .toMap
  }

  /** Committed txn markers under the coordinator, ascending by id. */
  def committedTxns(coordDir: String): Seq[(Long, Seq[String])] =
    Option(txnDir(coordDir).listFiles()).fold(Seq.empty[File])(_.toSeq)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("t") && n.endsWith(".txt"))
          scala.util.Try(n.stripPrefix("t").stripSuffix(".txt").toLong)
            .toOption.map { id =>
              val tables = Files.readAllLines(f.toPath)
                .toArray(Array.empty[String])
                .collect { case l if l.startsWith("T ") => l.drop(2) }
                .toSeq
              (id, tables)
            }
        else None
      }.sortBy(_._1)

  /** Phase 3 / crash recovery: expose every COMMITTED txn's staged
    * bodies into the participating tables' version logs, idempotently
    * (the `B <txnId>` ledger line skips tables that already exposed
    * it; racing recoverers resolve through the manifest CAS exactly
    * like appendBatch replays). Staged bodies for txns with NO marker
    * are untouched — they are either in-flight (pre-MARK) or aborted
    * debris for [[abort]]. Returns the number of (table, txn)
    * exposures this call performed.
    */
  def recover(coordDir: String): Int = {
    var exposed = 0
    // Each participant's ledger, read once per call: a ledger only
    // grows, so an id it holds stays committed, and an id it lacks is
    // re-checked against the live log before anything is exposed.
    val ledgers = scala.collection.mutable.Map.empty[String, Set[Long]]
    committedTxns(coordDir).foreach { case (txnId, tables) =>
      tables.foreach { t =>
        var done = ledgers.getOrElseUpdate(t, CommitLog.committedBatchIds(t))
          .contains(txnId)
        if (!done) {
          val sf = new File(stagedDir(t), txnName(txnId))
          // a RACING recoverer may expose and clean the body between
          // our ledger check and this read — exposure commits the
          // manifest BEFORE deleting the body, so a vanished body
          // with the id now in the ledger is the benign race, and a
          // vanished body with the id still absent is a genuine
          // protocol violation
          val staged: Option[Manifest] =
            try Some(Manifest.read(sf))
            catch {
              case _: java.nio.file.NoSuchFileException |
                  _: java.io.FileNotFoundException =>
                require(CommitLog.committedBatchIds(t).contains(txnId),
                  s"txn $txnId is marked committed but $t has no " +
                    "staged body: the marker references a staging " +
                    "that never published (protocol violation) or " +
                    "was removed by hand")
                done = true
                None
            }
          while (!done) {
            val head = CommitLog.latestVersion(t)
            if (CommitLog.committedBatchIds(t).contains(txnId)) done = true
            else if (CommitLog.publishAtomic(t,
              CommitLog.manifestName(head + 1),
              staged.get.copy(parent = Some(head), batchIds = Set(txnId))
                .render)) {
              done = true
              exposed += 1
              ledgers -= t // re-read on its next marker
            } // else: lost the version race; loop re-checks
          }
        }
        // exposed (by us or a racer): the staged body is spent — the
        // ledger line, not the body, carries idempotence from here
        Files.deleteIfExists(
          new File(stagedDir(t), txnName(txnId)).toPath): Unit
      }
    }
    exposed
  }

  /** Txn ids with a staged body still pending under this table's log
    * — in-flight (pre-MARK) or aborted-and-not-yet-cleaned txns
    * (exposure deletes the body).
    */
  def stagedTxnIds(tableDir: String): Seq[Long] =
    Option(stagedDir(tableDir).listFiles()).fold(Seq.empty[File])(_.toSeq)
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("t") && n.endsWith(".txt"))
          scala.util.Try(n.stripPrefix("t").stripSuffix(".txt").toLong)
            .toOption
        else None
      }.sorted

  /** Drop an UNMARKED txn's staged body from one table (the abort
    * path; the staged data files become vacuum-reclaimable orphans).
    * Refuses when the coordinator carries a marker for the id —
    * aborting a committed txn would tear the all-or-nothing contract.
    */
  def abort(coordDir: String, txnId: Long, tableDir: String): Boolean = {
    require(!new File(txnDir(coordDir), txnName(txnId)).isFile,
      s"txn $txnId is committed: it can no longer abort")
    Files.deleteIfExists(
      new File(stagedDir(tableDir), txnName(txnId)).toPath)
  }

  /** Read a participant table AFTER completing any pending exposures —
    * the catalog-service discipline that makes MARK the visibility
    * point for every reader that routes through here.
    */
  def read(spark: org.apache.spark.sql.SparkSession, coordDir: String,
      tableDir: String,
      asOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    recover(coordDir): Unit
    CommitLog.read(spark, tableDir, asOf)
  }

  /** File entries a table's staged bodies reference — folded into
    * [[CommitLog.vacuumOrphans]]'s referenced set so a staged-but-not-
    * yet-exposed txn's data files survive the vacuum.
    */
  private[storage] def stagedReferences(tableDir: String): Set[String] =
    Option(stagedDir(tableDir).listFiles()).fold(Set.empty[String]) {
      fs =>
        fs.filter(f => f.getName.startsWith("t") &&
          f.getName.endsWith(".txt"))
          .map(Manifest.read)
          .flatMap(m => m.added ++ m.removed)
          .map(_.split("/").head).toSet
    }
}
