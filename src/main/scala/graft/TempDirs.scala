package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** Scratch directories for query and tool outputs. Every directory
  * made here is deleted, with its contents, when the JVM exits: a
  * query that writes then reads back a dataset leaves nothing behind
  * once the process ends, however many times it ran.
  */
object TempDirs {

  private val dirs = new ConcurrentLinkedQueue[File]()
  sys.addShutdownHook(dirs.forEach(d => FileUtils.deleteQuietly(d)))

  /** A fresh directory under java.io.tmpdir, named `prefix` + a random
    * suffix.
    */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    dirs.add(dir)
    dir.toString
  }
}
