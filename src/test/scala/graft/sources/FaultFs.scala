package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}

/** Test-only fault-injecting filesystem: the local disk under its own
  * `faultfs:` scheme, so a spec routes exactly the paths it names
  * through it. [[FaultFs.failRename]] arms one failing rename. */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  override def rename(src: Path, dst: Path): Boolean =
    // Hadoop's usual rename failure: false, not an exception
    if (FaultFs.renamesLeft.getAndDecrement() == 0) false
    else super.rename(src, dst)
}

object FaultFs {
  val Scheme = "faultfs"
  private val renamesLeft = new AtomicInteger(-1)

  /** The raw local filesystem answering to the `faultfs:` scheme. */
  private class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    // a plain status: the local one loads its permissions through a
    // `file:` URI of the path, which this scheme is not
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      if (!file.exists()) throw new FileNotFoundException(s"$f does not exist")
      new FileStatus(if (file.isDirectory) 0L else file.length(),
        file.isDirectory, 1, getDefaultBlockSize(f), file.lastModified(),
        makeQualified(f))
    }
  }

  /** Register the scheme in `conf`. */
  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** The rename after the next `n` fails, once; later renames succeed. */
  def failRename(n: Int): Unit = renamesLeft.set(n)

  /** Disarm: no rename fails. */
  def reset(): Unit = renamesLeft.set(-1)

  /** `dir` (a local path) under the `faultfs:` scheme. */
  def path(dir: String): String = s"$Scheme://$dir"
}
