package graft.storage

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import CommitLog.{Bloom, ColStats}

/** One commit-log manifest — a plain commit, a checkpoint, or a
  * [[TxnLog]] staged body — as a value. This is the format's only
  * codec: [[Manifest.read]] is the only code that opens one of these
  * files, and [[render]] the only code that writes one. The line kinds
  * and their fields are listed in [[CommitLog]]'s object doc.
  *
  * `blooms` keeps each `F` line's hex undecoded ([[Manifest.BloomHex]]):
  * replays that never probe a filter (liveFiles, expiry) pay no decode.
  */
private[storage] final case class Manifest(
    parent: Option[Long] = None,
    op: Option[String] = None,
    changeset: Option[String] = None,
    added: Seq[String] = Nil,
    removed: Seq[String] = Nil,
    deletes: Seq[String] = Nil,
    eqDeletes: Seq[(String, Seq[String])] = Nil,
    schemaOps: Seq[(String, Option[String])] = Nil,
    stats: Map[String, Map[String, ColStats]] = Map.empty,
    blooms: Map[String, Map[String, Manifest.BloomHex]] = Map.empty,
    batchIds: Set[Long] = Set.empty,
    upstream: Option[Long] = None) {

  /** The file body: line kinds in the order `P O C A R D E M S F B U`,
    * each kind sorted (`B` numerically, `S`/`F` by file then column,
    * the rest as strings) except `M`, whose order is the schema fold's.
    * Refuses fields that would not read back: tabs or line breaks in
    * any field, commas in equality-delete paths and columns, and
    * stats/blooms for files this manifest does not add (the replay
    * attaches them on add — a line for another file would shadow-update
    * pruning metadata outside the add/remove ledger).
    */
  def render: String = {
    val extraneous = (stats.keySet ++ blooms.keySet) -- added.toSet
    require(extraneous.isEmpty,
      s"commit stats/blooms must cover only added files; extraneous: " +
        extraneous.toSeq.sorted.mkString(", "))
    op.foreach(o => require(o.nonEmpty && Manifest.fieldSafe(o),
      "op tag must be a non-empty single line"))
    eqDeletes.foreach { case (p, cols) =>
      require(cols.nonEmpty && cols.forall(_.nonEmpty),
        s"equality delete $p needs key columns")
      require((p +: cols).forall(v => Manifest.fieldSafe(v) &&
        !v.contains(',')),
        s"equality-delete path/columns must not contain tabs/newlines/" +
          s"commas: $p")
    }
    changeset.foreach(c => require(Manifest.fieldSafe(c),
      "changeset path must be a single tab-free line"))
    (added ++ removed ++ deletes).foreach(f => require(Manifest.fieldSafe(f),
      s"file paths must not contain tabs/newlines: $f"))
    schemaOps.foreach { case (p, l) =>
      require((p +: l.toSeq).forall(Manifest.fieldSafe),
        s"schema-change names must not contain tabs/newlines: $p") }
    def perFile[T](meta: Map[String, Map[String, T]], kind: String,
        what: String)(values: T => Seq[String]): Seq[String] =
      meta.toSeq.sortBy(_._1).flatMap { case (file, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, t) =>
          val fields = file +: c +: values(t)
          require(fields.forall(Manifest.fieldSafe),
            s"$what must not contain tabs/newlines: $file.$c")
          s"$kind ${fields.mkString("\t")}"
        }
      }
    val statLines = perFile(stats, "S", "stats values")(s =>
      Seq(s.min, s.max))
    val bloomLines = perFile(blooms, "F", "bloom keys")(b =>
      Seq(b.m.toString, b.k.toString, b.hex))
    (parent.map("P " + _).toSeq ++ op.map("O " + _) ++
      changeset.map("C " + _) ++ added.sorted.map("A " + _) ++
      removed.sorted.map("R " + _) ++ deletes.sorted.map("D " + _) ++
      eqDeletes.sortBy(_._1).map { case (p, cols) =>
        s"E $p\t${cols.mkString(",")}" } ++
      schemaOps.map {
        case (p, Some(l)) => s"M rename\t$p\t$l"
        case (p, None) => s"M drop\t$p"
      } ++ statLines ++ bloomLines ++
      batchIds.toSeq.sorted.map("B " + _) ++ upstream.map("U " + _))
      .mkString("", "\n", "\n")
  }
}

private[storage] object Manifest {

  /** An `F` line's filter, still hex: validated when read, decoded only
    * when a caller probes it.
    */
  final case class BloomHex(m: Int, k: Int, hex: String) {
    require(m > 0 && m % 64 == 0 && hex.length == m / 4,
      s"bloom hex length ${hex.length} != ${m / 4} for m=$m")
    require(k >= 1 && k <= Bloom.A.length,
      s"k=$k outside 1..${Bloom.A.length}")
    def decode: Bloom = Bloom.decode(m, k, hex)
  }

  object BloomHex {
    def of(b: Bloom): BloomHex = BloomHex(b.m, b.k, b.encode)
  }

  /** A field survives a tab-separated line. */
  private def fieldSafe(v: String): Boolean =
    !v.exists(c => c == '\t' || c == '\n' || c == '\r')

  /** Manifest files read so far on the calling thread: the cost meter
    * behind the storage specs' read-count bounds.
    */
  private[storage] val readsOnThread: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => 0L)

  /** Read one manifest file, once. Blank lines are skipped (an empty
    * staged body is a lone newline); any other line that is not a
    * known kind with well-formed fields fails with the file and line
    * number.
    */
  def read(f: File): Manifest = {
    readsOnThread.set(readsOnThread.get + 1L)
    val lines = Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
      .filter(_._1.nonEmpty)
    def kind(l: String): Char =
      if (l.length >= 2 && l.charAt(1) == ' ') l.charAt(0) else '?'
    def fail(l: String, i: Int, why: String): Nothing =
      throw new IllegalStateException(s"malformed manifest ${f.getPath} " +
        s"line ${i + 1} ('${l.take(60)}'): $why")
    lines.find(l => !"POCARDEMSFBU".contains(kind(l._1)))
      .foreach { case (l, i) => fail(l, i, "unknown line kind") }
    def all[T](k: Char)(value: String => T): Seq[T] = lines.collect {
      case (l, i) if kind(l) == k =>
        try value(l.drop(2))
        catch { case e: IllegalArgumentException => fail(l, i, e.getMessage) }
    }
    def one[T](k: Char)(value: String => T): Option[T] = {
      lines.filter(l => kind(l._1) == k).drop(1).headOption
        .foreach { case (l, i) => fail(l, i, s"duplicate $k line") }
      all(k)(value).headOption
    }
    def perFile[T](k: Char, n: Int)(value: Array[String] => T)
        : Map[String, Map[String, T]] =
      all(k) { r =>
        val a = r.split("\t", -1)
        require(a.length == n,
          s"$k needs $n tab-separated fields, got ${a.length}")
        (a(0), a(1), value(a))
      }.groupBy(_._1).map { case (file, rows) =>
        file -> rows.map(r => r._2 -> r._3).toMap }
    Manifest(
      parent = one('P')(_.toLong),
      op = one('O')(identity),
      changeset = one('C')(identity),
      added = all('A')(identity),
      removed = all('R')(identity),
      deletes = all('D')(identity),
      eqDeletes = all('E')(_.split("\t", -1) match {
        case Array(p, cols) if cols.split(",", -1).forall(_.nonEmpty) =>
          (p, cols.split(",", -1).toSeq)
        case _ => throw new IllegalArgumentException(
          "an equality delete needs a path and key columns")
      }),
      schemaOps = all('M')(_.split("\t", -1) match {
        case Array("rename", p, l) => (p, Some(l))
        case Array("drop", p) => (p, None)
        case _ => throw new IllegalArgumentException("unknown schema op")
      }),
      stats = perFile('S', 4)(a => ColStats(a(2), a(3))),
      blooms = perFile('F', 5)(a => BloomHex(a(2).toInt, a(3).toInt, a(4))),
      batchIds = all('B')(_.toLong).toSet,
      upstream = one('U')(_.toLong))
  }
}

/** The state of one table version, folded from the manifests on its
  * parent chain (oldest first, from the newest checkpoint) by
  * [[applied]] — the one replay behind every view of a version: live
  * data, positional-delete and equality-delete files, first-add
  * sequence numbers, per-file stats and blooms, the column mapping and
  * the exactly-once ledger.
  */
private[storage] final case class Snapshot(
    data: Set[String] = Set.empty,
    deletes: Set[String] = Set.empty,
    eqDeletes: Map[String, Seq[String]] = Map.empty,
    dataSeq: Map[String, Long] = Map.empty,
    eqSeq: Map[String, Long] = Map.empty,
    stats: Map[String, Map[String, ColStats]] = Map.empty,
    blooms: Map[String, Map[String, Manifest.BloomHex]] = Map.empty,
    schema: Seq[(String, Option[String])] = Nil,
    batchIds: Set[Long] = Set.empty,
    upstream: Long = 0L) {

  /** This state with `m` applied. `R` lines remove any kind of file
    * (paths are unique across the table). A file's sequence number is
    * the version that FIRST added it (`seq` for data, `eqSeqAt` for
    * equality deletes), so a restore re-add keeps its true age. Stats
    * and blooms attach on add; a re-add clears them first, so a re-add
    * without fresh metadata reads as "none" (conservatively scanned),
    * never as stale bounds. Schema ops fold in line order; the ledger
    * is the union of batch ids and the max upstream version.
    */
  def applied(m: Manifest, seq: Long, eqSeqAt: Long): Snapshot = {
    def firstAdd(acc: Map[String, Long], fs: Seq[String], v: Long) =
      fs.foldLeft(acc)((a, f) => if (a.contains(f)) a else a + (f -> v))
    val replaced = m.removed ++ m.added
    Snapshot(
      data -- m.removed ++ m.added,
      deletes -- m.removed ++ m.deletes,
      eqDeletes -- m.removed ++ m.eqDeletes,
      firstAdd(dataSeq, m.added, seq),
      firstAdd(eqSeq, m.eqDeletes.map(_._1), eqSeqAt),
      stats -- replaced ++ m.stats,
      blooms -- replaced ++ m.blooms,
      m.schemaOps.foldLeft(schema)((acc, op) =>
        acc.filterNot(_._1 == op._1) :+ op),
      batchIds ++ m.batchIds,
      math.max(upstream, m.upstream.getOrElse(0L)))
  }

  lazy val liveFiles: Seq[String] = data.toSeq.sorted
  lazy val liveDeletes: Seq[String] = deletes.toSeq.sorted
  lazy val liveEqDeletes: Seq[(String, Seq[String])] =
    eqDeletes.toSeq.sortBy(_._1)
  /** Stats of live data files only. */
  lazy val liveStats: Map[String, Map[String, ColStats]] =
    stats.filter { case (f, _) => data(f) }
  /** Blooms of live data files only, still hex. */
  lazy val liveBloomHex: Map[String, Map[String, Manifest.BloomHex]] =
    blooms.filter { case (f, _) => data(f) }
  /** Blooms of live data files, decoded. */
  lazy val liveBlooms: Map[String, Map[String, Bloom]] =
    liveBloomHex.map { case (f, cols) =>
      f -> cols.map { case (c, h) => c -> h.decode } }
}
