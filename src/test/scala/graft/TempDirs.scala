package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories for the test tree. Each one is deleted, with its
  * contents, when the test JVM exits, so a run leaves nothing in the temp
  * root. */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(made.forEach(d => FsUtil.deleteRecursive(d.toFile)))

  /** A new empty directory whose name starts with `prefix`. */
  def make(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }
}
