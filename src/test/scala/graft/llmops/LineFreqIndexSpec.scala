package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Merge-on-read line-frequency index: per-batch delta folds (history
  * files untouched), summed reads ≡ one-shot frequencies, separator
  * pinning, history-aware line dedup, and compaction. */
class LineFreqIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def newStore() = new graft.sinks.DocStore(spark,
    graft.TestDirs.temp("graft_lfi").toString, "graftdocs")

  private def freqMap(store: graft.sinks.DocStore): Map[String, Long] =
    LineFreqIndex.lineFreq(store, "lf")
      .as[(String, Long)].collect().toMap

  test("multi-epoch folds: merged view ≡ one-shot; history untouched; replay idempotent") {
    val store = newStore()
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(a, "doc_id", "text", " "), "lf")
    LineFreqIndex.foldBatch(store, "lf", b, 1, "doc_id", "text", " ")
    def files(rel: String): Set[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(store.path("lf") + rel))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    }
    val before = files("/epoch=0") ++ files("/epoch=1")
    LineFreqIndex.foldBatch(store, "lf", c, 2, "doc_id", "text", " ")
    assert(files("/epoch=0") ++ files("/epoch=1") == before)
    val oneShot = Dedup.lineDocFreq(docs, "doc_id", "text", " ")
      .as[(String, Long)].collect().toMap
    assert(freqMap(store) == oneShot)
    assert(LineFreqIndex.totalDocs(store, "lf").as[Long].head() == docs.count())
    // replay: same epoch, same batch → identical merged view
    LineFreqIndex.foldBatch(store, "lf", c, 2, "doc_id", "text", " ")
    assert(freqMap(store) == oneShot)
  }

  test("separator is pinned: mismatched folds and queries refuse") {
    val store = newStore()
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(docs.limit(5), "doc_id", "text", " "), "lf")
    val e = intercept[graft.mql.MqlException](
      LineFreqIndex.foldBatch(store, "lf", docs.limit(5), 1,
        "doc_id", "text", "\n"))
    assert(e.getMessage.contains("separator"))
    intercept[graft.mql.MqlException](
      LineFreqIndex.dropFrequentLinesAgainst(store, "lf", docs.limit(5),
        "doc_id", "text", "\n").collect())
  }

  test("boilerplate + history-aware dedup match the one-shot operators") {
    val store = newStore()
    val history = docs.where($"doc_id" % 2 === 1)
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(history, "doc_id", "text", " "), "lf")
    // boilerplate against accumulated corpus ≡ one-shot on the same slice
    val gotBp = LineFreqIndex.boilerplate(store, "lf", 0.78)
      .as[(String, Long)].collect().toMap
    val expBp = Dedup.boilerplateLines(history, "doc_id", "text", " ", 0.78)
      .as[(String, Long)].collect().toMap
    assert(gotBp == expBp)
    // batch dedup against HISTORY frequencies: lines history has never
    // seen survive regardless of their in-batch frequency
    val batch = Seq((9001L, "zzzunseen zzzunseen zzzunseen")).toDF("doc_id", "text")
    val out = LineFreqIndex.dropFrequentLinesAgainst(store, "lf",
        batch, "doc_id", "text", " ", maxDocFrac = 0.0001)
      .as[(Long, String)].collect().toMap
    assert(out == Map(9001L -> "zzzunseen zzzunseen zzzunseen"))
    // and a history-frequent line drops out of a mixed batch
    val frequentLine = gotBp.keys.headOption.getOrElse(
      fail("fixture has no boilerplate line at 0.78"))
    val mixed = Seq((9002L, s"zzzunseen $frequentLine zzzunseen"))
      .toDF("doc_id", "text")
    val out2 = LineFreqIndex.dropFrequentLinesAgainst(store, "lf",
        mixed, "doc_id", "text", " ", maxDocFrac = 0.5)
      .as[(Long, String)].collect().toMap
    assert(out2 == Map(9002L -> "zzzunseen zzzunseen"))
  }

  test("lineFreqStream: streamed folds ≡ one-shot; fresh-checkpoint replay skips") {
    import org.apache.spark.sql.streaming.Trigger
    val feed = graft.TestDirs.temp("graft_lffeed").toString
    val odd = docs.where($"doc_id" % 2 === 1).select("doc_id", "text")
    val even = docs.where($"doc_id" % 2 === 0).select("doc_id", "text")
    odd.coalesce(1).write.parquet(s"$feed/f1")
    even.coalesce(1).write.parquet(s"$feed/f2")
    val store = newStore()
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(docs.limit(0), "doc_id", "text", " "), "lf")
    val stream = spark.readStream.schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(feed)
    def run(): Unit = {
      val ckpt = graft.TestDirs.temp("graft_lfckpt").toString
      val q = graft.streaming.EventStream
        .lineFreqStream(stream, "doc_id", "text", "lf", store, sep = " ")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val oneShot = Dedup.lineDocFreq(docs, "doc_id", "text", " ")
      .as[(String, Long)].collect().toMap
    assert(freqMap(store) == oneShot)
    run() // fresh checkpoint: batch ids restart ≤ committed tag → skipped
    assert(freqMap(store) == oneShot)
  }

  test("compact: one merged epoch, identical view, folds continue") {
    val store = newStore()
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    LineFreqIndex.writePartitioned(store,
      LineFreqIndex.build(a, "doc_id", "text", " "), "lf",
      tags = Map("batchId" -> "0"))
    LineFreqIndex.foldBatch(store, "lf", b, 1, "doc_id", "text", " ",
      tags = Map("batchId" -> "1"))
    val view = freqMap(store)
    LineFreqIndex.compact(store, "lf")
    assert(freqMap(store) == view)
    val epochs = new java.io.File(store.path("lf")).listFiles
      .filter(_.isDirectory).map(_.getName).toSet.filter(_.startsWith("epoch="))
    assert(epochs == Set("epoch=0"), s"got $epochs")
    assert(store.readTag("lf", "batchId").contains("1"))
    LineFreqIndex.foldBatch(store, "lf", c, 5, "doc_id", "text", " ")
    assert(freqMap(store) == Dedup.lineDocFreq(docs, "doc_id", "text", " ")
      .as[(String, Long)].collect().toMap)
  }
}
