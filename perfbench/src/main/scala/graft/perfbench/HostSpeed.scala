package graft.perfbench

import java.lang.management.ManagementFactory

/** A fixed reference kernel that measures how fast the host runs right
  * now, independent of the engine. A shared VM's speed drifts in phases
  * (neighbours' load on the physical cores, with no CPU steal to show
  * for it) that move every timing of a run alike, CPU time included.
  * The harness times this kernel after every timed pass, so `run.py`
  * can scale each pass to a fixed host speed.
  *
  * One repetition runs `cpus` threads at once, each filling an array
  * from a fixed xorshift stream while updating and probing a 2 MB table
  * at random, then sorting the array: cache-missing loads and branchy
  * compute on every core, like a pass's task, JIT and driver threads
  * together. The arrays are allocated once per measurement, so no
  * collection runs inside a repetition, and are garbage after it.
  */
object HostSpeed {
  private val N = 1 << 19
  private val TableBits = 18
  private val Reps = 5

  /** One thread's share of a repetition; returns a checksum so the work
    * cannot be optimised away.
    */
  private def work(seed: Long, a: Array[Long], table: Array[Long]): Long = {
    var x = seed | 1L
    var acc = 0L
    var i = 0
    while (i < N) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      val slot = (x >>> (64 - TableBits)).toInt
      table(slot) += x
      acc += table((slot * 31 + 7) & ((1 << TableBits) - 1))
      i += 1
    }
    java.util.Arrays.sort(a)
    acc + a(N / 2)
  }

  /** Wall seconds and CPU seconds (all threads) of one repetition, one
    * thread per pair of arrays.
    */
  private def rep(r: Int, arrays: IndexedSeq[(Array[Long], Array[Long])]): (Double, Double) = {
    val cpus = arrays.size
    val sums, cpuNs = new Array[Long](cpus)
    val mx = ManagementFactory.getThreadMXBean
    val threads = (0 until cpus).map { t =>
      new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        sums(t) = work(r * 1000003L + t, arrays(t)._1, arrays(t)._2)
        cpuNs(t) = mx.getCurrentThreadCpuTime - c0
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val s = (System.nanoTime() - t0) / 1e9
    if (sums.sum == 42L) println("") // keeps the checksum live
    (s, cpuNs.sum / 1e9)
  }

  /** Median repetition wall and median repetition CPU time (all
    * threads), in seconds, over a few repetitions on `cpus` threads.
    * Wall time follows how much CPU the host gives and how fast it
    * runs; CPU time only the latter.
    */
  def measure(cpus: Int): (Double, Double) = {
    val arrays = IndexedSeq.fill(cpus)((new Array[Long](N), new Array[Long](1 << TableBits)))
    val xs = (0 until Reps).map(rep(_, arrays))
    (xs.map(_._1).sorted.apply(Reps / 2), xs.map(_._2).sorted.apply(Reps / 2))
  }
}
