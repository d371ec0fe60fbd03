package graft

import java.sql.Timestamp

/** Hand-computed pins for e18 (Markov removal-effect attribution):
  * chains short enough that the 10-round fixed-horizon value
  * iteration converges exactly, so every expected number is a closed
  * form, not a tolerance.
  */
class MarkovAttributionSpec extends SparkTestBase {

  /** events fixture: (event_id, user_id, event_type, ts-second). */
  private def writeEvents(rows: Seq[(Long, Long, String, Int)]): String = {
    import spark.implicits._
    val ev = rows.map { case (eid, uid, tp, sec) =>
      (eid, uid, tp, 1.0, new Timestamp(1700000000000L + sec * 1000L))
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
    val dir = sharedTempDir("graft_markov").toString
    ev.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def run(dir: String): Map[String, (Double, Double, Double,
      Double)] =
    SparkEntry.queries("e18_markov_attribution")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap

  test("symmetric two-channel chain: exact halves") {
    // u1 view→purchase, u2 view→(end), u3 click→purchase,
    // u4 click→(end):
    //   P(start→view) = P(start→click) = 1/2,
    //   P(view→conv) = P(view→null) = 1/2, click likewise
    //   base = .5·.5 + .5·.5 = 0.5
    //   remove view: start's view mass → (null), p = .5·.5 = 0.25
    //   effect = 1 − .25/.5 = 0.5 each, shares split evenly
    val dir = writeEvents(Seq(
      (1L, 1L, "view", 0), (2L, 1L, "purchase", 10),
      (3L, 2L, "view", 0),
      (4L, 3L, "click", 0), (5L, 3L, "purchase", 10),
      (6L, 4L, "click", 0)))
    val got = run(dir)
    assert(got.keySet == Set("view", "click"), s"got ${got.keySet}")
    assert(got("view") == ((0.5, 0.25, 0.5, 0.5)), s"got ${got("view")}")
    assert(got("click") == ((0.5, 0.25, 0.5, 0.5)),
      s"got ${got("click")}")
  }

  test("journeys truncate at the first purchase; asymmetric effects") {
    // u5 view→purchase→click: the post-purchase click must be
    // INVISIBLE (no (conv)→click edge, no click credit from u5).
    //   start: view 3/5, click 2/5
    //   view→conv 2/3, view→null 1/3; click→conv 1/2, click→null 1/2
    //   base = .6·(2/3) + .4·.5 = 0.6
    //   remove view → p = .4·.5 = 0.2, effect = 1 − 1/3 = 2/3
    //   remove click → p = .6·(2/3) = 0.4, effect = 1/3
    val dir = writeEvents(Seq(
      (1L, 1L, "view", 0), (2L, 1L, "purchase", 10),
      (3L, 2L, "view", 0),
      (4L, 3L, "click", 0), (5L, 3L, "purchase", 10),
      (6L, 4L, "click", 0),
      (7L, 5L, "view", 0), (8L, 5L, "purchase", 10),
      (9L, 5L, "click", 20)))
    val got = run(dir)
    // no phantom channels from the truncated tail
    assert(got.keySet == Set("view", "click"), s"got ${got.keySet}")
    assert(got("view") == ((0.6, 0.2, 0.666667, 0.666667)),
      s"got ${got("view")}")
    assert(got("click") == ((0.6, 0.4, 0.333333, 0.333333)),
      s"got ${got("click")}")
  }
}
