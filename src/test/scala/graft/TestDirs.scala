package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** Temp directories for specs, deleted recursively when the test JVM
  * exits — a store, a checkpoint or a batch directory a spec leaves
  * behind never outlives the run. */
object TestDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(p => FileUtils.deleteQuietly(p.toFile): Unit)))

  def temp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }
}
