package graft

/** The shared-frame graph is declared (`Query.reads`, `SharedFrame.deps`)
  * and checked here against the reads each build actually makes, as the
  * recorder in `SharedFrame.apply` notes them. Reads are recorded, not
  * found by walking plans: an eager localCheckpoint inside a build
  * truncates the final plan to a LogicalRDD and hides the frames it
  * read (d18 reads `dedup.shingles` that way).
  */
class SharedFrameSpec extends SparkTestBase {

  private def names(fs: Iterable[SharedFrame[_]]): String =
    fs.map(_.name).toSeq.sorted.mkString("[", ", ", "]")

  test("each query's reads are the shared frames its build reads") {
    val wrong = SparkEntry.registry.flatMap { q =>
      val seen = SharedFrame.recording(q.build(spark, sf001))
      if (seen == q.reads.toSet) None
      else Some(s"${q.name}: declared ${names(q.reads)}, read ${names(seen)}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }

  test("each shared frame's deps are the frames its build reads") {
    val wrong = SparkEntry.sharedCaches.flatMap { f =>
      val seen = SharedFrame.recording(f.build(spark, sf001))
      if (seen == f.deps.toSet) None
      else Some(s"${f.name}: declared ${names(f.deps)}, read ${names(seen)}")
    }
    assert(SparkEntry.sharedCaches.nonEmpty)
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }
}
