package graft.storage

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import CommitLog.{Bloom, ColStats}
import Manifest.BloomHex

/** The manifest codec: round trip, loud refusal of malformed lines,
  * and compatibility with bodies the line-by-line writers produced
  * before the codec existed (one per writer, kept verbatim below).
  */
class ManifestSpec extends AnyFunSuite with graft.TempDirs {

  private def readBody(body: String): Manifest =
    withTempDir("graft_manifest") { d =>
      val f = new File(d, "v00001.txt")
      Files.write(f.toPath, body.getBytes("UTF-8"))
      Manifest.read(f)
    }

  private val bloom = BloomHex.of(Bloom.build(64, 2, Seq(1L, 2L)))

  test("read(render(m)) == m for a manifest carrying every line kind") {
    val m = Manifest(parent = Some(6L), op = Some("restore v2"),
      changeset = Some("cs_restore_v7"), added = Seq("a1", "a2"),
      removed = Seq("r1"), deletes = Seq("d1", "d2"),
      eqDeletes = Seq("e1" -> Seq("k"), "e2" -> Seq("k", "part")),
      schemaOps = Seq("z" -> None, "k" -> Some("key"), "a" -> Some("b")),
      stats = Map("a1" -> Map("k" -> ColStats("1", "9"),
        "part" -> ColStats("", "z")), "a2" -> Map("k" -> ColStats("3", "4"))),
      blooms = Map("a2" -> Map("k" -> bloom)),
      batchIds = Set(12L, 3L), upstream = Some(5L))
    assert(readBody(m.render) === m)
    // a staged body (no P, no B) and the empty manifest round-trip too
    val staged = Manifest(added = Seq("x"), removed = Seq("y"))
    assert(readBody(staged.render) === staged)
    assert(readBody(Manifest().render) === Manifest())
  }

  test("render refuses fields that would not read back") {
    def refuses(m: Manifest): Unit =
      intercept[IllegalArgumentException](m.render): Unit
    refuses(Manifest(stats = Map("x" -> Map("k" -> ColStats("1", "2")))))
    refuses(Manifest(added = Seq("x"),
      stats = Map("x" -> Map("k" -> ColStats("1\t", "2")))))
    refuses(Manifest(eqDeletes = Seq("e" -> Nil)))
    refuses(Manifest(eqDeletes = Seq("e" -> Seq("a,b"))))
    refuses(Manifest(op = Some("")))
    refuses(Manifest(changeset = Some("c\td")))
    refuses(Manifest(added = Seq("a\nP 9")))
    refuses(Manifest(schemaOps = Seq("p\tq" -> None)))
  }

  test("a malformed line fails with the file and line number") {
    val hex = "0" * 16
    Seq(
      "X foo" -> "unknown line kind",
      "Afoo" -> "unknown line kind",
      "P x" -> "For input string",
      "S f\tk\t1" -> "S needs 4 tab-separated fields",
      s"F f\tk\t128\t2\t$hex" -> "bloom hex length",
      "E path" -> "key columns",
      "E path\t" -> "key columns",
      "M move\ta\tb" -> "unknown schema op",
      "P 1\nP 2" -> "duplicate P"
    ).foreach { case (bad, why) =>
      val e = intercept[IllegalStateException](
        readBody(s"A ok\n$bad\nA ok2\n"))
      assert(e.getMessage.contains("v00001.txt") &&
        e.getMessage.contains(s"line ${bad.count(_ == '\n') + 2}") &&
        e.getMessage.contains(why), s"'$bad': ${e.getMessage}")
    }
  }

  // One body per writer, as the per-writer string builders wrote them.
  private val fixtures: Seq[(String, String)] = Seq(
    "syncIncrement" -> (
      "P 0\n" +
      "U 1\n" +
      "A sync_00000_00001_a024fb86-ac00-4c5d-98f9-b9b4dcbddde4\n"),
    "appendBatch" -> (
      "P 1\n" +
      "B 7\n" +
      "A batch_000007_9b6fd026-24a5-47b3-874f-c5d92c5564cd\n"),
    "upsertBatch" -> (
      "P 2\n" +
      "B 8\n" +
      "A upsert_000008_1d9c5148-8828-407a-a8a6-825f0d584722\n" +
      "E ek_upsert_000008_1d9c5148-8828-407a-a8a6-825f0d584722\tk\n"),
    "commitTagged" -> (
      "P 3\n" +
      "O merge\n" +
      "C cs1\n" +
      "A f1\n" +
      "A f2\n" +
      "R never_added\n" +
      "D pd1\n" +
      "D pd2\n" +
      "E ek1\tk\n" +
      "E ek2\tk,part\n" +
      "S f1\tk\t1\t9\n" +
      "S f1\tpart\ta\tz\n" +
      "S f2\tk\t10\t20\n" +
      "F f1\tk\t64\t2\t0000004000120000\n" +
      "F f1\tpart\t64\t2\t0000004000120000\n"),
    "commitSchemaChange" -> (
      "P 4\n" +
      "O schema\n" +
      "M rename\tk\tkey\n" +
      "M rename\tpart\tsegment\n" +
      "M drop\ty\n" +
      "M drop\tz\n"),
    "checkpoint" -> (
      "P 4\n" +
      "A batch_000007_9b6fd026-24a5-47b3-874f-c5d92c5564cd\n" +
      "A f1\n" +
      "A f2\n" +
      "A sync_00000_00001_a024fb86-ac00-4c5d-98f9-b9b4dcbddde4\n" +
      "A upsert_000008_1d9c5148-8828-407a-a8a6-825f0d584722\n" +
      "D pd1\n" +
      "D pd2\n" +
      "E ek1\tk\n" +
      "E ek2\tk,part\n" +
      "E ek_upsert_000008_1d9c5148-8828-407a-a8a6-825f0d584722\tk\n" +
      "M rename\tk\tkey\n" +
      "M rename\tpart\tsegment\n" +
      "M drop\ty\n" +
      "M drop\tz\n" +
      "S f1\tk\t1\t9\n" +
      "S f1\tpart\ta\tz\n" +
      "S f2\tk\t10\t20\n" +
      "F f1\tk\t64\t2\t0000004000120000\n" +
      "F f1\tpart\t64\t2\t0000004000120000\n" +
      "B 7\n" +
      "B 8\n" +
      "U 1\n"),
    "txnStage" -> (
      "A tx_a\n" +
      "A tx_b\n" +
      "R f2\n"),
    "txnRecover" -> (
      "P 5\n" +
      "B 42\n" +
      "A tx_a\n" +
      "A tx_b\n" +
      "R f2\n")
  )

  private val sync = "sync_00000_00001_a024fb86-ac00-4c5d-98f9-b9b4dcbddde4"
  private val batch = "batch_000007_9b6fd026-24a5-47b3-874f-c5d92c5564cd"
  private val upsert = "upsert_000008_1d9c5148-8828-407a-a8a6-825f0d584722"
  private val fixtureBloom = BloomHex(64, 2, "0000004000120000")
  private val schemaOps =
    Seq("k" -> Some("key"), "part" -> Some("segment"), "y" -> None,
      "z" -> None)
  private val expected: Map[String, Manifest] = Map(
    "syncIncrement" -> Manifest(parent = Some(0L), added = Seq(sync),
      upstream = Some(1L)),
    "appendBatch" -> Manifest(parent = Some(1L), added = Seq(batch),
      batchIds = Set(7L)),
    "upsertBatch" -> Manifest(parent = Some(2L), added = Seq(upsert),
      eqDeletes = Seq(s"ek_$upsert" -> Seq("k")), batchIds = Set(8L)),
    "commitTagged" -> Manifest(parent = Some(3L), op = Some("merge"),
      changeset = Some("cs1"), added = Seq("f1", "f2"),
      removed = Seq("never_added"), deletes = Seq("pd1", "pd2"),
      eqDeletes = Seq("ek1" -> Seq("k"), "ek2" -> Seq("k", "part")),
      stats = Map("f1" -> Map("k" -> ColStats("1", "9"),
        "part" -> ColStats("a", "z")), "f2" -> Map("k" -> ColStats("10", "20"))),
      blooms = Map("f1" -> Map("k" -> fixtureBloom, "part" -> fixtureBloom))),
    "commitSchemaChange" -> Manifest(parent = Some(4L), op = Some("schema"),
      schemaOps = schemaOps),
    "checkpoint" -> Manifest(parent = Some(4L),
      added = Seq(batch, "f1", "f2", sync, upsert),
      deletes = Seq("pd1", "pd2"),
      eqDeletes = Seq("ek1" -> Seq("k"), "ek2" -> Seq("k", "part"),
        s"ek_$upsert" -> Seq("k")),
      schemaOps = schemaOps,
      stats = Map("f1" -> Map("k" -> ColStats("1", "9"),
        "part" -> ColStats("a", "z")), "f2" -> Map("k" -> ColStats("10", "20"))),
      blooms = Map("f1" -> Map("k" -> fixtureBloom, "part" -> fixtureBloom)),
      batchIds = Set(7L, 8L), upstream = Some(1L)),
    "txnStage" -> Manifest(added = Seq("tx_a", "tx_b"), removed = Seq("f2")),
    "txnRecover" -> Manifest(parent = Some(5L), added = Seq("tx_a", "tx_b"),
      removed = Seq("f2"), batchIds = Set(42L)))

  test("every writer's pre-codec body parses and renders to its lines") {
    assert(fixtures.map(_._1).toSet === expected.keySet)
    fixtures.foreach { case (writer, body) =>
      val m = readBody(body)
      assert(m === expected(writer), writer)
      assert(m.render.split("\n").sorted.toSeq ===
        body.split("\n").sorted.toSeq, writer)
    }
    // these writers' bodies are byte-identical, not only the same lines
    Seq("commitTagged", "commitSchemaChange", "checkpoint", "txnStage")
      .foreach(w => assert(readBody(fixtures.toMap.apply(w)).render ===
        fixtures.toMap.apply(w), w))
    assert(fixtureBloom.decode.mightContain(1L))
  }
}
