package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One op as measured: its kind (find, aggregate, insert, write), the
  * nanoseconds and allocated bytes of its timed region, the documents it
  * moved, whether its result checked out, and the documents it wrote.
  * `param` names the op (a traced run replays it). */
final case class OpRecord(kind: String, timed: Timed, docs: Long, ok: Boolean,
                          error: String = null,
                          written: Long = 0L,
                          param: Any = null) {
  def nanos: Long = timed.nanos
}

/** An op's timed region: nanoseconds, and bytes allocated by all live
  * threads over it (see [[Counters.allocatedBytes]]). */
final case class Timed(nanos: Long, alloc: Long)

/** What every workload gets: the session, the seed, the run's scratch
  * directory (deleted at exit) and the core count. */
final case class Ctx(spark: SparkSession, seed: Long, work: File, cpus: Int) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def dir(name: String): File = new File(work, name)
  def tmp: File = new File(System.getProperty("java.io.tmpdir"))
}

/** A workload is driven by one closed-loop client: the next op starts
  * when the previous one has returned. */
trait Workload {
  /** Ops in one block. A block holds the workload's whole op mix, and
    * measured windows are whole blocks, so every window runs the same
    * mix. Ops are numbered from 0 in each window. */
  def block: Int
  /** A block's duration on the reference host (see README.md); sets how
    * many blocks a measured window of `--seconds` runs. */
  def nominalBlockSeconds: Double
  /** The repeated part of set-up (generate inputs, load the store);
    * runs several times, the last load is the one measured. */
  def load(rep: Int): Unit
  /** The rest of set-up: expected results, servers, streams. */
  def prepare(): Unit
  /** One op; times only its own region (see [[Workload.timed]]) and
    * checks its result outside that region. */
  def runOp(seq: Long, rng: java.util.Random): OpRecord
  /** Checks after the measured window; returns failure messages. */
  def finalChecks(): Seq[String]
  /** Committed bytes on disk per stored document. */
  def storedBytesPerDoc(): Double
  /** Mean data files per collection, from a listing. */
  def filesPerCollection(): Double
  /** Per-layer metrics only this workload can produce (replays,
    * streaming progress, kernel probes), from a traced window's ops. */
  def layerMetrics(traced: Seq[OpRecord]): Map[String, Double]
  def close(): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "find_arrow" => new FindArrow(ctx)
    case "wire_serve" => new WireServe(ctx)
  }

  /** Run `body` as the op's timed region (and root span `op`). */
  def timed[T](seq: Long)(body: => T): (T, Timed) = {
    val a0 = Counters.allocatedBytes()
    val t0 = System.nanoTime()
    val r = Trace.op(seq)(body)
    val t1 = System.nanoTime()
    (r, Timed(t1 - t0, Counters.allocatedBytes() - a0))
  }

  def failed(kind: String, t: Timed, e: Throwable, param: Any = null): OpRecord =
    OpRecord(kind, t, 0L, ok = false,
      error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}",
      param = param)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Data files under `f` (hidden and `_`-prefixed sidecars excluded). */
  def dataFiles(f: File): Seq[File] =
    Option(f.listFiles).toSeq.flatten.flatMap { c =>
      if (c.getName.startsWith(".") || c.getName.startsWith("_")) Nil
      else if (c.isDirectory) dataFiles(c) else Seq(c)
    }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum else f.length

  /** Delete what a lazily-read frame landed (an OP_MSG cursor's batch
    * directory): the frame's input files, or, for a DSv2 source that
    * lists none, its relation's `path`. Returns the bytes deleted. */
  def deleteInputs(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val dirs = df.inputFiles.toSeq.map(p => new File(new java.net.URI(p)).getParentFile) ++
      df.queryExecution.analyzed.collect {
        case r: DataSourceV2Relation if r.options.containsKey("path") => new File(r.options.get("path"))
      }
    val bytes = dirs.distinct.map(treeBytes).sum
    dirs.distinct.foreach(deleteTree)
    bytes
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
