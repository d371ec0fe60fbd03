package graft


import scala.util.Random

import graft.storage.CommitLog

/** Model-based property test for the commit log's state machine:
  * random sequences of append / whole-file remove / equality-delete /
  * restore commits must keep `read` equal to a driver-side reference
  * model — at the head after EVERY op, and for every version via time
  * travel at the end. This is the restore/sequence-semantics
  * interaction surface no example-based test enumerates: restores of
  * restores, erasures before and after rollbacks, re-added files
  * keeping their first-add age.
  */
class RestorePropertySpec extends SparkTestBase {

  private def freshDir(): String =
    sharedTempDir("graft_rprop_test").getAbsolutePath

  private def writeRows(dir: String, rel: String,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "part").coalesce(1).write
      .parquet(s"${CommitLog.dataDir(dir)}/$rel")
  }

  private def readState(dir: String, v: Option[Long]): Set[(Long, String)] =
    CommitLog.read(spark, dir, v).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("part"))).toSet

  test("random append/remove/eq-delete/restore sequences match the model") {
    val rng = new Random(20260817L)
    for (trial <- 1 to 3) {
      val t = freshDir()
      var nextKey = 1L
      var nextFile = 0
      // model: state AFTER each version (index 0 = v0, empty), plus
      // the live data files per version for remove-op generation
      var states = Vector(Set.empty[(Long, String)])
      var fileRows = Map.empty[String, Set[(Long, String)]]
      var liveAt = Vector(Set.empty[String])

      // v1 must be an append (an empty table refuses reads)
      def append(): Unit = {
        val rows = (1 to (1 + rng.nextInt(3))).map { _ =>
          val r = (nextKey, if (rng.nextBoolean()) "a" else "b")
          nextKey += 1
          r
        }.toSet
        val rel = s"f$nextFile"; nextFile += 1
        writeRows(t, rel, rows.toSeq)
        CommitLog.commit(t, Seq(rel), Nil, CommitLog.latestVersion(t))
        fileRows += (rel -> rows)
        states :+= (states.last ++ rows)
        liveAt :+= (liveAt.last + rel)
      }
      append()
      for (_ <- 1 to 12) {
        val head = CommitLog.latestVersion(t)
        rng.nextInt(4) match {
          case 0 => append()
          case 1 if liveAt.last.nonEmpty && states.last.nonEmpty =>
            // whole-file remove (keep the table non-empty)
            val candidates = liveAt.last.toSeq.sorted
              .filter(f => (states.last -- fileRows(f)).nonEmpty)
            if (candidates.isEmpty) append()
            else {
              val f = candidates(rng.nextInt(candidates.size))
              CommitLog.commit(t, Nil, Seq(f), head)
              states :+= (states.last -- fileRows(f))
              liveAt :+= (liveAt.last - f)
            }
          case 2 if states.last.size > 1 =>
            // equality delete of 1-2 present keys (never all of them)
            val keys = rng.shuffle(states.last.toSeq.map(_._1))
              .take(1 + rng.nextInt(math.min(2, states.last.size - 1)))
            import spark.implicits._
            val rel = s"eq$nextFile"; nextFile += 1
            keys.toDF("k").coalesce(1).write
              .parquet(s"${CommitLog.dataDir(t)}/$rel")
            CommitLog.commitTagged(t, Nil, Nil, head,
              eqDeletes = Seq((rel, Seq("k"))))
            states :+= states.last.filterNot(r => keys.contains(r._1))
            liveAt :+= liveAt.last
          case 3 if head >= 2 =>
            // restore to a random STRICTLY earlier, different state
            val targets = (1L until head)
              .filter(v => states(v.toInt) != states.last)
              .filter(v => states(v.toInt).nonEmpty)
            if (targets.isEmpty) append()
            else {
              val v = targets(rng.nextInt(targets.size))
              // live sets can coincide even when row states differ
              // via... they can't: same live files+deletes => same
              // rows. But row states can CO-INCIDE with different
              // live sets; restore only refuses identical SETS, so
              // try and fall back to append on the no-op refusal.
              try {
                CommitLog.restore(spark, t, v,
                  withChangeset = rng.nextBoolean())
                states :+= states(v.toInt)
                liveAt :+= liveAt(v.toInt)
              } catch {
                case e: IllegalArgumentException
                  if e.getMessage.contains("no-op") => append()
              }
            }
          case _ => append()
        }
        assert(readState(t, None) === states.last,
          s"trial $trial: head state diverged at v${states.size - 1}")
      }
      // full time-travel sweep: every version equals its model state
      for (v <- 1 until states.size) {
        assert(readState(t, Some(v.toLong)) === states(v),
          s"trial $trial: time travel to v$v diverged")
      }
    }
  }
}
