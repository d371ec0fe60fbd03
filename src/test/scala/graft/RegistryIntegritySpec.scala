package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants that the typed records cannot carry: a name
  * registered by two family objects would make the driver's name-keyed
  * views fail to build (or, before the records, silently SHADOW one
  * operator). Oracle coverage and the shared-frame graph hold by
  * construction (an oracle is a required field of [[Query]]; reads and
  * deps are typed [[SharedFrame]] references, checked against the
  * observed reads in SharedFrameSpec). No Spark session needed.
  */
class RegistryIntegritySpec extends AnyFunSuite {

  private val families: Seq[(String, Seq[Query])] = Seq(
    "Reference" -> QueriesReference.registry,
    "Relational" -> QueriesRelational.registry,
    "Text" -> QueriesText.registry,
    "Dedup" -> QueriesDedup.registry,
    "Vector" -> QueriesVector.registry,
    "Streaming" -> QueriesStreaming.registry,
    "Functions" -> QueriesFunctions.registry,
    "Sketch" -> QueriesSketch.registry,
    "Curation" -> QueriesCuration.registry,
    "Events" -> QueriesEvents.registry,
    "Graph" -> QueriesGraph.registry,
    "Timeseries" -> QueriesTimeseries.registry,
    "Profile" -> QueriesProfile.registry,
    "Sql" -> QueriesSql.registry,
    "Storage" -> QueriesStorage.registry,
    "Ml" -> QueriesMl.registry)

  test("no query key is shadowed across family objects") {
    val all = families.flatMap { case (f, qs) => qs.map(_.name -> f) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"names registered twice: " +
        s"${dups.map { case (k, fs) => s"$k in ${fs.map(_._2)}" }}")
    assert(SparkEntry.queries.size == all.size,
      "the driver view must hold every family's queries")
  }

  test("shared-cache registry: unique names, family-prefixed") {
    // Bench keys its [bench-cache] lines and the BENCH_DETAIL caches
    // map by these names — a duplicate would silently drop a timing;
    // an unprefixed name would collide with query short-keys in the
    // baseline regex.
    val names = SparkEntry.sharedCaches.map(_.name)
    assert(names.distinct == names, s"duplicate cache names: $names")
    assert(names.forall(_.matches("[a-z]+\\.[a-z0-9_]+")),
      s"cache names must be family.member: $names")
  }

  test("family key prefixes are contiguously numbered") {
    // A gap (sql10 → sql12) reads as a missing query to any auditor
    // — the r11 verdict's numbering-hygiene item, now pinned.
    // 'p' is exempt: its keys mirror the REFERENCE's operator ids
    // (p1_p6 covers P1–P6 in one query, p8_p10 likewise), so its
    // numbering is the reference table's, not a sequence.
    val byPrefix = SparkEntry.queries.keySet.toSeq
      .map(_.split("_")(0))
      .groupBy(_.takeWhile(!_.isDigit))
      .filter { case (p, ks) => p != "p" && ks.exists(_.exists(_.isDigit)) }
    for ((prefix, keys) <- byPrefix) {
      val nums = keys.map(_.dropWhile(!_.isDigit).toInt).sorted
      val expected = (nums.min to nums.max).toSeq
      assert(nums == expected,
        s"family '$prefix' numbering has gaps: $nums")
    }
  }
}
