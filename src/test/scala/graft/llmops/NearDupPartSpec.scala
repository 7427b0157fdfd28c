package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Epoch-partitioned near-dup index lifecycle — the at-scale fold: each
  * ingest writes only its own `epoch=N` partition, history files stay
  * byte-identical, replaying an epoch is idempotent, and the result is
  * row-for-row rebuild-equivalent to the one-shot build. */
class NearDupPartSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def newStore() = new graft.sinks.DocStore(spark,
    graft.TestDirs.temp("graft_ndpart").toString,
    format = "graftdocs")

  /** (path, length, mtime) of every data file under the collection. */
  private def files(store: graft.sinks.DocStore, name: String,
                    under: String = ""): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(store.path(name) + under))
      .filterNot(_.getName.startsWith("_graft_tag_"))
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("kind"), col("doc_id"), col("bucket"),
        to_json(col("hs")).as("hs"), col("param"))
      .collect().map(_.mkString("|")).toSet

  test("multi-epoch fold is rebuild-equivalent; history files untouched") {
    val store = newStore()
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(a, "doc_id", "text"), "nd")
    NearDupIndex.foldPartitionedBatch(store, "nd", b, epoch = 1,
      "doc_id", "text")
    val before = files(store, "nd", "/epoch=0") ++ files(store, "nd", "/epoch=1")
    NearDupIndex.foldPartitionedBatch(store, "nd", c, epoch = 2,
      "doc_id", "text")
    // prior epochs: exact same files, lengths, and mtimes
    assert(files(store, "nd", "/epoch=0") ++ files(store, "nd", "/epoch=1")
      == before)
    // content ≡ one-shot build over the union
    assert(rows(store.read("nd")) == rows(NearDupIndex.build(
      docs, "doc_id", "text")))
  }

  test("re-folding the same epoch is idempotent (replay contract)") {
    val store = newStore()
    val a = docs.where($"doc_id" % 2 === 0)
    val b = docs.where($"doc_id" % 2 === 1)
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(a, "doc_id", "text"), "nd")
    NearDupIndex.foldPartitionedBatch(store, "nd", b, 1, "doc_id", "text")
    val once = rows(store.read("nd"))
    NearDupIndex.foldPartitionedBatch(store, "nd", b, 1, "doc_id", "text")
    assert(rows(store.read("nd")) == once)
  }

  test("empty fold commits an empty epoch without breaking the index") {
    val store = newStore()
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(docs.limit(10), "doc_id", "text"), "nd")
    val before = rows(store.read("nd"))
    NearDupIndex.foldPartitionedBatch(store, "nd",
      docs.limit(0), 1, "doc_id", "text", tags = Map("batchId" -> "0"))
    assert(rows(store.read("nd")) == before)
    assert(store.readTag("nd", "batchId").contains("0"))
  }

  test("removePartitioned rewrites only touched epochs; empties drop out") {
    val store = newStore()
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(a, "doc_id", "text"), "nd")
    NearDupIndex.foldPartitionedBatch(store, "nd", b, 1, "doc_id", "text")
    NearDupIndex.foldPartitionedBatch(store, "nd", c, 2, "doc_id", "text")
    val e0 = files(store, "nd", "/epoch=0")
    // remove every epoch-1 doc plus one epoch-2 doc
    val gone = b.select("doc_id")
      .unionByName(c.select("doc_id").orderBy("doc_id").limit(1))
    NearDupIndex.removePartitioned(store, "nd", gone, "doc_id")
    // epoch 0 (untouched) byte-identical; epoch 1 (emptied) gone
    assert(files(store, "nd", "/epoch=0") == e0)
    assert(!new java.io.File(store.path("nd") + "/epoch=1").exists)
    // content ≡ rebuild over the survivors
    val keptIds = docs.join(gone.select(col("doc_id").as("__g")),
      col("doc_id") === col("__g"), "left_anti")
    assert(rows(store.read("nd")) ==
      rows(NearDupIndex.build(keptIds, "doc_id", "text")))
  }

  test("compactEpochs: one epoch left, rows/geometry/tags intact, folds continue") {
    val store = newStore()
    val a = docs.where($"doc_id" % 3 === 0)
    val b = docs.where($"doc_id" % 3 === 1)
    val c = docs.where($"doc_id" % 3 === 2)
    NearDupIndex.writePartitioned(store,
      NearDupIndex.build(a, "doc_id", "text"), "nd",
      tags = Map("batchId" -> "1"))
    NearDupIndex.foldPartitionedBatch(store, "nd", b, 1, "doc_id", "text",
      tags = Map("batchId" -> "2"))
    val before = rows(store.read("nd"))
    NearDupIndex.compactEpochs(store, "nd")
    assert(rows(store.read("nd")) == before)
    val epochs = new java.io.File(store.path("nd")).listFiles
      .filter(_.isDirectory).map(_.getName).toSet.filter(_.startsWith("epoch="))
    assert(epochs == Set("epoch=0"), s"got $epochs")
    assert(store.readTag("nd", "batchId").contains("2")) // tags survive
    // the compacted index still folds (geometry meta intact)
    NearDupIndex.foldPartitionedBatch(store, "nd", c, 3, "doc_id", "text")
    assert(rows(store.read("nd")) == rows(NearDupIndex.build(
      docs, "doc_id", "text")))
  }

  test("nearDupStreamPartitioned: cross-batch dedup, per-epoch layout, replay skip") {
    import org.apache.spark.sql.streaming.Trigger
    val feed = graft.TestDirs.temp("graft_ndpfeed").toString
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    Seq((10L, base + " ok"),
        (11L, "completely different text about spark shuffles and joins here"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    Seq((12L, "completely different text about spark shuffles and joins here!"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    val store = newStore()
    NearDupIndex.writePartitioned(store, NearDupIndex.build(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text"), "nd")
    val stream = spark.readStream.schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(feed)
    val ckpt = graft.TestDirs.temp("graft_ndpckpt").toString
    val q = graft.streaming.EventStream
      .nearDupStreamPartitioned(stream, "doc_id", "text", "nd", store,
        threshold = 0.7)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    def indexed(): Set[Long] = store.read("nd").where($"kind" === "doc")
      .select("doc_id").as[Long].collect().toSet
    assert(indexed() == Set(1L, 11L), s"got ${indexed()}") // 10 dup-of-1, 12 dup-of-11
    // per-batch epochs: seed epoch + batch 1's survivors; batch 2 was
    // all-dup, so its fold had no leaf to commit (no epoch=2 dir)
    val root = new java.io.File(store.path("nd"))
    val epochs = root.listFiles.filter(_.isDirectory).map(_.getName)
      .toSet.filter(_.startsWith("epoch="))
    assert(epochs == Set("epoch=0", "epoch=1"), s"got $epochs")
    // fresh-checkpoint replay: batch ids restart ≤ committed tag → skipped
    val ckpt2 = graft.TestDirs.temp("graft_ndpckpt2").toString
    val q2 = graft.streaming.EventStream
      .nearDupStreamPartitioned(stream, "doc_id", "text", "nd", store,
        threshold = 0.7)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(indexed() == Set(1L, 11L))
  }
}
