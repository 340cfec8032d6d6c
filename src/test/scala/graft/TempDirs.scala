package graft

import java.io.File
import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories that a suite creates, deleted with everything in
  * them after its last test (a lazy DataFrame may read one until then).
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A new empty directory under the system temp dir. */
  def tempDir(prefix: String): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try synchronized(dirs.foreach(FileUtils.deleteDirectory)) finally super.afterAll()
}
