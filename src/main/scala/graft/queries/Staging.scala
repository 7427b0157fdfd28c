package graft.queries

import org.apache.spark.sql.SparkSession

/** Memoized per-(gate, scale-factor) staging for index-lifecycle gates.
  *
  * A gate whose QUERY runs against a persisted index/store (text
  * postings, IVF layout, near-dup bands) must not rebuild that artifact
  * inside every timed run: the driver's bench would then measure the
  * BUILD, not the query, and per-gate numbers stop meaning anything
  * (round-10 verdict, "bench signal hygiene"). The q_decode_bulk
  * precedent, generalized:
  *
  *  - the artifact lives at a STABLE tmp path keyed by (gate, sf dir),
  *    so verify and every bench iteration of the same scale factor
  *    share one copy;
  *  - a `fingerprint` tag (source row count + a format version salt)
  *    revalidates it — a changed fixture or index format rebuilds;
  *  - the tag is written only AFTER a successful build
  *    ([[graft.sinks.DocStore.writeTag]]), so a crash mid-build leaves
  *    no tag and the next run rebuilds from scratch.
  *
  * Correctness is unchanged: the first run builds exactly what the
  * gate built before; CORRECTNESS hashes are identical by construction.
  */
object Staging {
  /** Per-PROCESS staging root (optimization-round contract): every
    * bench/verify INVOCATION rebuilds its index artifacts from the
    * parquet inputs — nothing persists across JVM runs, and nothing on
    * disk is keyed to the testdata path beyond this process's lifetime.
    * Within one invocation the memo still collapses repeated calls
    * (bench min-of-N runs, verify + bench sharing a JVM) onto a single
    * build, which is the round-10 "bench measures the QUERY" hygiene.
    * The root is removed on JVM exit. */
  private lazy val processRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_stage_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p.toFile)))
    p.toString
  }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }

  /** A fresh directory under the per-process root: the scratch space of
    * declared queries (their input batches, stores, checkpoints and
    * outputs), removed with the root on JVM exit. */
  def scratch(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(processRoot), prefix)

  def dir(gate: String, sfDir: String): String =
    processRoot + s"/${gate}_${math.abs(sfDir.hashCode)}"

  def store(s: SparkSession, gate: String, sfDir: String,
            format: String = "parquet"): graft.sinks.DocStore =
    new graft.sinks.DocStore(s, dir(gate, sfDir), format)

  /** Run `build` (which must write collection `name` — and any
    * `name_*` siblings — into `st`) unless a complete copy with this
    * fingerprint already exists. Stale/incomplete copies are dropped
    * first so a build never lands on top of partial state. */
  def memo(st: graft.sinks.DocStore, name: String, fingerprint: String)
          (build: => Unit): Unit = {
    if (st.exists(name) &&
        st.readTag(name, "fingerprint").contains(fingerprint)) return
    st.collections()
      .filter(c => c == name || c.startsWith(name + "_"))
      .foreach(c => st.drop(c): Unit)
    build
    st.writeTag(name, "fingerprint", fingerprint)
  }
}
