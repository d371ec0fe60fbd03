package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: a raw control byte (say, a NUL inside
  * a string literal) makes grep report "binary file matches" and
  * ripgrep skip the file in directory searches. Write such characters
  * as escapes (`\u0000`).
  */
class SourceHygieneSpec extends AnyFunSuite {
  test("no file under src/ holds a control byte other than tab, LF, CR") {
    val src = new File("src")
    assert(src.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] =
      Option(d.listFiles()).fold(Seq.empty[File])(_.toSeq).flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(src).flatMap { f =>
      val bytes = Files.readAllBytes(f.toPath)
      bytes.indices.find { i =>
        val b = bytes(i) & 0xff
        b < 0x20 && b != '\t' && b != '\n' && b != '\r'
      }.map(i => s"${f.getPath} at byte $i (0x${"%02x".format(bytes(i))})")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
