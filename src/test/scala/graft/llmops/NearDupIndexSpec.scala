package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Incremental near-dup index lifecycle: batch-vs-corpus queries must
  * agree with the one-shot corpus-vs-itself generator, and
  * update/remove must be exactly rebuild-equivalent — the properties
  * that let a 100 TB ingest pipeline near-dedup each arriving batch
  * without ever rescanning history. */
class NearDupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val corpus = docs.where($"doc_id" % 5 =!= 0)
  private lazy val fresh = docs.where($"doc_id" % 5 === 0)

  test("batch query ≡ one-shot minhashPairs restricted to cross pairs") {
    val idx = NearDupIndex.build(corpus, "doc_id", "text")
    val got = NearDupIndex.queryBatch(idx, fresh, "doc_id", "text")
      .select($"fresh_id", $"index_id", $"jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = oneShot.collect {
      case (a, b, j) if a % 5 == 0 && b % 5 != 0 => (a, b, j)
      case (a, b, j) if b % 5 == 0 && a % 5 != 0 => (b, a, j)
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture has no cross near-dups: test is vacuous")
  }

  test("nearDupStream drops dups against the LIVE index (cross-batch) and skips replays") {
    import org.apache.spark.sql.streaming.Trigger
    val feed = graft.TestDirs.temp("graft_ndfeed").toString
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    // batch 1: a near-dup of HISTORY (dropped) + a novel doc (folded)
    Seq((10L, base + " ok"), (11L, "completely different text about spark shuffles and joins here"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    // batch 2: a near-dup of BATCH 1's novel doc — only caught if the
    // fold updated the standing index between micro-batches
    Seq((12L, "completely different text about spark shuffles and joins here!"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_ndsstore").toString)
    store.write(NearDupIndex.build(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text"), "nd")
    val stream = spark.readStream.schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(feed)
    val ckpt = graft.TestDirs.temp("graft_ndckpt").toString
    val q = graft.streaming.EventStream
      .nearDupStream(stream, "doc_id", "text", "nd", store, threshold = 0.7)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    def indexed(): Set[Long] = store.read("nd").where($"kind" === "doc")
      .select("doc_id").as[Long].collect().toSet
    assert(indexed() == Set(1L, 11L), s"got ${indexed()}") // 10 dup-of-1, 12 dup-of-11
    // fresh-checkpoint replay: batch ids restart ≤ the committed tag → skipped
    val ckpt2 = graft.TestDirs.temp("graft_ndckpt2").toString
    val q2 = graft.streaming.EventStream
      .nearDupStream(stream, "doc_id", "text", "nd", store, threshold = 0.7)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(indexed() == Set(1L, 11L))
  }

  test("update is rebuild-equivalent, row for row") {
    val folded = NearDupIndex.update(
      NearDupIndex.build(corpus, "doc_id", "text"), fresh, "doc_id", "text")
    val rebuilt = NearDupIndex.build(docs, "doc_id", "text")
    assert(folded.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(folded).isEmpty)
  }

  test("remove is rebuild-equivalent and corpus-free") {
    val idx = NearDupIndex.build(docs, "doc_id", "text")
    val gone = docs.where($"doc_id" % 5 === 0).select("doc_id")
    val removed = NearDupIndex.remove(idx, gone, "doc_id")
    val rebuilt = NearDupIndex.build(corpus, "doc_id", "text")
    assert(removed.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(removed).isEmpty)
  }

  test("non-castable and lossy ids refuse loudly, never silently collapse") {
    // string oids null out under cast("long") → one null signature group
    val oids = Seq(("5f0e3a2b", "alpha beta gamma"), ("5f0e3a2c", "delta"))
      .toDF("doc_id", "text")
    // under ANSI (Spark 4 default) the cast itself raises before the
    // guard; with ANSI off the guard's raise_error fires — loud either way
    val e1 = intercept[Exception] {
      NearDupIndex.build(oids, "doc_id", "text").collect()
    }
    assert(e1.getMessage.contains("does not cast losslessly") ||
      e1.getMessage.contains("CAST_INVALID_INPUT"), e1.getMessage)
    // fractional ids truncate: 12.5 and 12.4 would both land on 12
    val fracs = Seq((12.5, "aaa bbb ccc"), (12.4, "ddd eee fff"))
      .toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      NearDupIndex.build(fracs, "doc_id", "text").collect()
    }
    assert(e2.getMessage.contains("does not cast losslessly"))
    // integral-valued doubles are lossless and pass
    val whole = Seq((12.0, "aaa bbb ccc"), (13.0, "ddd eee fff"))
      .toDF("doc_id", "text")
    assert(NearDupIndex.build(whole, "doc_id", "text")
      .where($"kind" === "doc").count() == 2)
  }

  test("a frame without the geometry row refuses loudly") {
    val idx = NearDupIndex.build(corpus, "doc_id", "text")
    // a freshly-BUILT frame carries the geometry in schema metadata, so
    // dropping the meta row alone still answers (the jobless fast path)
    val rowless = idx.where($"kind" =!= "meta")
    assert(NearDupIndex.queryBatch(rowless, fresh, "doc_id", "text")
      .columns.toSeq == Seq("fresh_id", "index_id", "jaccard"))
    // a stored/foreign frame (no schema metadata — an alias with explicit
    // empty metadata is what a store round-trip yields) with no meta row
    // is not an index
    val headless = rowless.withColumn("param",
      $"param".as("param", org.apache.spark.sql.types.Metadata.empty))
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.queryBatch(headless, fresh, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("meta"))
  }

  test("index persists through a graftdocs store round-trip") {
    val path = graft.TestDirs.temp("graft_ndi").toString
    val idx = NearDupIndex.build(corpus, "doc_id", "text")
    idx.write.format("graftdocs").mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(idx.schema).load(path)
    val got = NearDupIndex.queryBatch(back, fresh, "doc_id", "text")
      .orderBy("fresh_id", "index_id").collect().toSeq
    val want = NearDupIndex.queryBatch(idx, fresh, "doc_id", "text")
      .orderBy("fresh_id", "index_id").collect().toSeq
    assert(got == want && got.nonEmpty)
  }
}
