package graft.llmops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Scale-proof soak for the incremental index lifecycle: the 100 TB
  * claims ("fold N+1 is O(batch): writes only its epoch leaf, reads no
  * history") asserted from MEASURED bytes — file-level disk state and
  * SparkListener task metrics — not wall time, on a history ~20× the
  * fold batch (the sf0.01 documents fixture replicated 20-fold).
  *
  * Invariants pinned:
  *  1. every pre-fold index file stays byte-identical (path, length,
  *     mtime) — the fold never rewrites or compacts history;
  *  2. new files appear ONLY under the fold's own `epoch=N` leaf;
  *  3. task-metric bytesRead across the fold's jobs stays far below the
  *     on-disk size of the history partitions (history is never
  *     scanned) and within a small multiple of the batch source;
  *  4. the fold's written bytes are bounded by its own leaf size —
  *     O(|batch|) in data written.
  */
class IndexScaleSoakSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val sfDir = "/root/testdata/sf0.01"

  /** (path → (length, mtime)) for every data file under `dir`. */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  private def bytesUnder(files: Map[String, (Long, Long)], marker: String): Long =
    files.collect { case (p, (len, _)) if p.contains(marker) => len }.sum

  test("near-dup epoch fold: O(batch) bytes, history files untouched") {
    val docs = graft.api.Graft.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    // 20× history: disjoint ids, text perturbed per replica so the
    // corpus isn't one giant duplicate class
    val history = (0 until 20).map(k =>
      docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$k")).as("text")))
      .reduce(_ unionByName _)
    val batch = docs.select((col("doc_id") + lit(99000000L)).as("doc_id"),
      concat(col("text"), lit(" fresh")).as("text"))

    val dir = graft.TestDirs.temp("graft_soak").toString
    val store = new graft.sinks.DocStore(spark, dir, "graftdocs")
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(history, "doc_id", "text"), "ndi")
    // a prior fold too, so "history" includes non-zero epochs
    NearDupIndex.foldPartitionedBatch(store, "ndi",
      docs.select((col("doc_id") + lit(98000000L)).as("doc_id"),
        concat(col("text"), lit(" older")).as("text")),
      epoch = 1, "doc_id", "text")

    // materialize the batch source ON DISK so its read cost is measurable
    val batchDir = graft.TestDirs.temp("graft_soak_b").toString
    batch.write.mode("overwrite").parquet(batchDir)
    val batchSrc = spark.read.parquet(batchDir)
    val batchSrcBytes = fileState(batchDir).values.map(_._1).sum

    val before = fileState(dir)
    val historyBytes = before.values.map(_._1).sum
    assert(historyBytes > batchSrcBytes * 5,
      s"fixture not history-heavy enough: $historyBytes vs $batchSrcBytes")

    val read = new java.util.concurrent.atomic.LongAdder
    val written = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          read.add(m.inputMetrics.bytesRead)
          written.add(m.outputMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      NearDupIndex.foldPartitionedBatch(store, "ndi", batchSrc,
        epoch = 2, "doc_id", "text")
      // listener delivery is async; settle until counters stop moving
      var last = -1L
      var spins = 0
      while (read.sum() != last && spins < 50) {
        last = read.sum(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    val after = fileState(dir)

    // 1. history DATA files byte-identical (the commit rewrites only
    // the constant-size schema sidecar + tag metadata)
    val metaFile = (p: String) =>
      p.contains("_graft_schema") || p.contains(".graft_tags")
    val changed = before.filter { case (p, st) =>
      !metaFile(p) && after.get(p) != Some(st) }
    assert(changed.isEmpty,
      s"fold touched history files:\n${changed.keys.mkString("\n")}")

    // 2. new files only under the fold's own leaf (+ commit-meta dirs)
    val newFiles = (after.keySet -- before.keySet).toSeq.sorted
    val offLeaf = newFiles.filterNot(p =>
      p.contains("epoch=2") || p.contains(".graft_tags") ||
        p.contains("_graft_schema"))
    assert(newFiles.nonEmpty && offLeaf.isEmpty,
      s"fold wrote outside its epoch leaf:\n${offLeaf.mkString("\n")}")

    // 3. read cost O(batch): far below history, near the batch source
    assert(read.sum() < historyBytes / 5,
      s"fold read ${read.sum()} bytes vs $historyBytes of history on disk")
    assert(read.sum() < batchSrcBytes * 5 + (1L << 20),
      s"fold read ${read.sum()} bytes for a $batchSrcBytes-byte batch")

    // 4. write cost O(batch): exactly the new leaf, nothing else
    val newLeafBytes = bytesUnder(after, "epoch=2")
    assert(newLeafBytes > 0)
    val epoch0 = bytesUnder(after, "epoch=0")
    assert(newLeafBytes < epoch0 / 5,
      s"fold leaf $newLeafBytes bytes vs epoch-0 $epoch0 — not O(batch)")
  }

  test("line-frequency epoch fold: same O(batch) discipline") {
    val docs = graft.api.Graft.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    val history = (0 until 20).map(k =>
      docs.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$k")).as("text")))
      .reduce(_ unionByName _)
    val batch = docs.limit(100)
      .select((col("doc_id") + lit(99000000L)).as("doc_id"),
        concat(col("text"), lit(" fresh")).as("text"))

    val dir = graft.TestDirs.temp("graft_soak_lf").toString
    val store = new graft.sinks.DocStore(spark, dir, "graftdocs")
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(history, "doc_id", "text"), "lfi")

    val before = fileState(dir)
    LineFreqIndex.foldBatch(store, "lfi", batch, epoch = 1, "doc_id", "text")
    val after = fileState(dir)

    val metaFile = (p: String) =>
      p.contains("_graft_schema") || p.contains(".graft_tags")
    val changed = before.filter { case (p, st) =>
      !metaFile(p) && after.get(p) != Some(st) }
    assert(changed.isEmpty,
      s"fold touched history files:\n${changed.keys.mkString("\n")}")
    val newFiles = (after.keySet -- before.keySet).toSeq.sorted
    val offLeaf = newFiles.filterNot(p => p.contains("epoch=1") || metaFile(p))
    assert(newFiles.nonEmpty && offLeaf.isEmpty,
      s"fold wrote outside its epoch leaf:\n${offLeaf.mkString("\n")}")
    val leaf = bytesUnder(after, "epoch=1")
    val epoch0 = bytesUnder(after, "epoch=0")
    assert(leaf > 0 && leaf < epoch0 / 5,
      s"fold leaf $leaf bytes vs epoch-0 $epoch0 — not O(batch)")
  }
}
