package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a suite cleans up. `withTempDir` lends a fresh dir to one
  * test body and deletes it afterwards; `sharedTempDir` hands out a dir
  * that outlives a test (a lazy fixture, a helper used across the
  * class) and deletes it in `afterAll`.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val shared = new ConcurrentLinkedQueue[File]()

  def withTempDir[T](prefix: String)(body: File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally graft.storage.CommitLog.deleteRecursively(dir)
  }

  def sharedTempDir(prefix: String): File = {
    val dir = Files.createTempDirectory(prefix).toFile
    shared.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try shared.forEach(graft.storage.CommitLog.deleteRecursively(_))
    finally super.afterAll()
}
