package graft.storage

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** How many manifest files the log's maintenance paths open: expiry
  * and transaction recovery each read every manifest they need once,
  * so their cost grows linearly with the log, not quadratically.
  */
class LogReadCostSpec extends AnyFunSuite with graft.TempDirs {

  /** `body`'s result and the manifest files it read on this thread. */
  private def reads[T](body: => T): (T, Long) = {
    val before = Manifest.readsOnThread.get
    val r = body
    (r, Manifest.readsOnThread.get - before)
  }

  private def manifests(tableDir: String): Int =
    CommitLog.logDir(tableDir).listFiles().count(_.getName.endsWith(".txt"))

  test("expireSnapshots reads each manifest of a linear log once") {
    for (n <- Seq(8, 16, 32)) withTempDir("graft_expire_cost") { d =>
      val t = new File(d, "t").getAbsolutePath
      // v1 adds f1; every later version adds f<v> and removes f<v-1>
      (1 to n).foreach { v =>
        val removed = if (v == 1) Nil else Seq(s"f${v - 1}")
        CommitLog.commit(t, Seq(s"f$v"), removed, v - 1L)
      }
      val keepFrom = n / 2L
      val ((dropped, orphans), n0) = reads(CommitLog.expireSnapshots(t, keepFrom))
      assert(dropped === keepFrom - 1)
      assert(orphans === keepFrom - 1, "f1 .. f<keepFrom-1> live only below the horizon")
      assert(n0 === n, s"expiry of a $n-manifest log read $n0 manifests")
      assert(CommitLog.liveFiles(t, n.toLong) === Seq(s"f$n"))
      assert(CommitLog.earliestVersion(t) === keepFrom)
    }
  }

  test("TxnLog.recover reads each participant's ledger once per call") {
    withTempDir("graft_recover_cost") { d =>
      val coord = d.getAbsolutePath
      val (a, b) = (s"$coord/ta", s"$coord/tb")
      val txns = 28
      (1 to txns).foreach { id =>
        TxnLog.commitAll(coord, id.toLong,
          Seq(TxnLog.Part(a, Seq(s"a$id")), TxnLog.Part(b, Seq(s"b$id"))))
      }
      assert(CommitLog.committedBatchIds(a) === (1 to txns).map(_.toLong).toSet)
      // nothing pending: one fold of each table's head, not one per marker
      val (exposed, n0) = reads(TxnLog.recover(coord))
      assert(exposed === 0)
      assert(n0 === manifests(a) + manifests(b),
        s"recover after $txns txns read $n0 manifests")
      // a pending txn is still exposed, exactly once
      TxnLog.stage(99L, Seq(TxnLog.Part(a, Seq("a99")), TxnLog.Part(b, Seq("b99"))))
      TxnLog.commitMarker(coord, 99L, Seq(a, b))
      assert(TxnLog.recover(coord) === 2)
      assert(TxnLog.recover(coord) === 0)
      assert(CommitLog.liveFiles(a, CommitLog.latestVersion(a)).contains("a99"))
    }
  }
}
