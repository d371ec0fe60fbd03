package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's regression gate compares per-query times only against a
  * baseline recorded at the run's own shape (sf dir and cpus).
  */
class BenchGateSpec extends AnyFunSuite {

  private val baseline =
    """{"metric":"total","value":3.500,"unit":"sec","sf":"/data/sf0.1","cpus":32,"n_queries":3,"queries":{"d9":1.000,"d10":0.100,"g8":2.000},"failed":[]}"""

  private val times = Seq("d9_pagerank" -> 2.0, "d10_degree" -> 0.5,
    "g8_paths" -> 2.1)
  private def key(n: String): String = n.split('_').head

  test("a baseline of the run's shape flags only slow-and-absolute regressions") {
    // d9 (2x, +1 s) and d10 (5x, +0.4 s) clear both bars; g8 (1.05x,
    // +0.1 s) clears neither
    assert(Bench.regressions(baseline, "/data/sf0.1", 32, times, key) ==
      Right(Seq("d10_degree", "d9_pagerank")))
    assert(Bench.regressions(baseline, "/data/sf0.1", 32,
      Seq("d9_pagerank" -> 1.2), key) == Right(Nil))
  }

  test("a baseline of another shape is not compared") {
    for ((sf, cpus) <- Seq(("/data/sf0.01", 32), ("/data/sf0.1", 4))) {
      val r = Bench.regressions(baseline, sf, cpus, times, key)
      assert(r.isLeft, s"sf=$sf cpus=$cpus must skip the gate")
      val msg = r.swap.getOrElse("")
      assert(msg.contains("sf=/data/sf0.1 cpus=32") &&
        msg.contains(s"sf=$sf cpus=$cpus"), msg)
    }
  }
}
