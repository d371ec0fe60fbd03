package graft

import java.io.File
import java.nio.file.Files
import graft.storage.CommitLog
import org.scalatest.funsuite.AnyFunSuite

/** The build-once contract of the scenario tables, without a Spark
  * session: reuse of a complete dir, wipe-and-rebuild after a crashed
  * build or a throwing probe, loud failure of a build that never
  * satisfies its probe, and a dir key that moves with the sources and
  * the code.
  */
class BuildOnceSpec extends AnyFunSuite with TempDirs {

  private def marked(dir: String): Boolean = new File(dir, "_done").isFile

  private def mark(dir: String): Unit = {
    new File(dir).mkdirs()
    new File(dir, "_done").createNewFile(): Unit
  }

  /** Run `body` on a source dir holding `a.parquet` and `b.parquet` and
    * a fresh scenario name; the scenario's state is deleted afterwards.
    */
  private def scenario[T](body: (String, String) => T): T =
    withTempDir("graft_bo_src") { src =>
      Seq("a", "b").foreach(t =>
        Files.write(new File(src, s"$t.parquet").toPath, t.getBytes))
      val name = s"bo_test_${java.util.UUID.randomUUID()}"
      try body(src.getAbsolutePath, name)
      finally CommitLog.deleteRecursively(
        new File(System.getProperty("java.io.tmpdir"), s"graft_$name"))
    }

  test("a complete dir is reused and build is not called again") {
    scenario { (d, name) =>
      var builds = 0
      def once() = QueriesStorage.buildOnce(d, name, "a")(marked) { dir =>
        builds += 1; mark(dir)
      }
      val first = once()
      assert(once() === first)
      assert(builds === 1)
    }
  }

  test("after a build that throws, the next call wipes and rebuilds") {
    scenario { (d, name) =>
      intercept[IllegalStateException] {
        QueriesStorage.buildOnce(d, name, "a")(marked) { dir =>
          new File(dir).mkdirs()
          new File(dir, "partial").createNewFile()
          throw new IllegalStateException("crash mid-build")
        }
      }
      var leftover = true
      val dir = QueriesStorage.buildOnce(d, name, "a")(marked) { dir =>
        leftover = new File(dir).exists(); mark(dir)
      }
      assert(!leftover, "the crashed build's state must be wiped first")
      assert(marked(dir) && !new File(dir, "partial").exists())
    }
  }

  test("a probe that throws counts as incomplete") {
    scenario { (d, name) =>
      val probe = (dir: String) =>
        if (marked(dir)) true
        else throw new IllegalStateException("torn log")
      var builds = 0
      def once() = QueriesStorage.buildOnce(d, name, "a")(probe) { dir =>
        builds += 1; mark(dir)
      }
      once(); once()
      assert(builds === 1)
    }
  }

  test("a build that leaves its probe unsatisfied fails loudly") {
    scenario { (d, name) =>
      val e = intercept[IllegalArgumentException] {
        QueriesStorage.buildOnce(d, name, "a")(marked)(new File(_).mkdirs())
      }
      assert(e.getMessage.contains("incomplete"))
    }
  }

  test("the dir carries every source fingerprint and the code version; " +
    "rewriting a source keys a new dir") {
    scenario { (d, name) =>
      val build = () => QueriesStorage.buildOnce(d, name, "a", "b")(marked)(mark)
      val dir = new File(build())
      assert(QueriesStorage.codeVersion.matches("[0-9a-f]{12}"))
      assert(dir.getName === Seq(d.replaceAll("[^A-Za-z0-9]", "_"),
        CommitLog.srcFingerprint(d, "a"), CommitLog.srcFingerprint(d, "b"),
        QueriesStorage.codeVersion).mkString("_"))
      assert(dir.getParentFile.getName === s"graft_$name")
      val a = new File(d, "a.parquet")
      Files.write(a.toPath, "rewritten".getBytes)
      a.setLastModified(a.lastModified() + 10000L)
      val rebuilt = new File(build())
      assert(rebuilt !== dir)
      assert(rebuilt.getParentFile === dir.getParentFile)
    }
  }
}
