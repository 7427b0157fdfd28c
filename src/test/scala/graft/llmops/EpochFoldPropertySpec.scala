package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Randomized fold-split invariance for the epoch-partitioned index
  * families: however an ingest history is sliced into folds, the
  * stored index must be indistinguishable from a one-shot build over
  * the union — the property that makes continuous ingest trustworthy.
  * Seeded; failures reproduce. */
class EpochFoldPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private val rnd = new scala.util.Random(0xF01D)

  private def newStore() = new graft.sinks.DocStore(spark,
    graft.TestDirs.temp("graft_efold").toString,
    "graftdocs")

  test("near-dup index: random fold splits ≡ one-shot build (5 draws)") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("kind"), col("doc_id"), col("bucket"),
          to_json(col("hs")).as("hs"), col("param"))
        .collect().map(_.mkString("|")).toSet
    (1 to 5).foreach { draw =>
      val k = 2 + rnd.nextInt(3) // 2..4 shards
      val store = newStore()
      // shard assignment by doc_id hash with a per-draw salt
      val salted = docs.withColumn("__s",
        pmod(xxhash64(col("doc_id"), lit(draw)), lit(k)))
      NearDupIndex.writePartitioned(store, NearDupIndex.build(
        salted.where(col("__s") === 0).drop("__s"), "doc_id", "text"), "nd")
      (1 until k).foreach { e =>
        NearDupIndex.foldPartitionedBatch(store, "nd",
          salted.where(col("__s") === e).drop("__s"), e, "doc_id", "text")
      }
      // half the draws also compact before comparing
      if (draw % 2 == 0) NearDupIndex.compactEpochs(store, "nd")
      assert(rows(store.read("nd")) ==
        rows(NearDupIndex.build(docs, "doc_id", "text")),
        s"draw $draw k=$k compact=${draw % 2 == 0}")
    }
  }

  test("line-frequency index: random fold splits ≡ one-shot frequencies (6 draws)") {
    val oneShot = Dedup.lineDocFreq(docs, "doc_id", "text", " ")
      .as[(String, Long)].collect().toMap
    val total = docs.count()
    (1 to 6).foreach { draw =>
      val k = 2 + rnd.nextInt(4) // 2..5 shards
      val store = newStore()
      val salted = docs.withColumn("__s",
        pmod(xxhash64(col("doc_id"), lit(100 + draw)), lit(k)))
      LineFreqIndex.writePartitioned(store, LineFreqIndex.build(
        salted.where(col("__s") === 0).drop("__s"), "doc_id", "text", " "), "lf")
      (1 until k).foreach { e =>
        LineFreqIndex.foldBatch(store, "lf",
          salted.where(col("__s") === e).drop("__s"), e, "doc_id", "text", " ")
      }
      if (draw % 2 == 0) LineFreqIndex.compact(store, "lf")
      assert(LineFreqIndex.lineFreq(store, "lf")
        .as[(String, Long)].collect().toMap == oneShot,
        s"draw $draw k=$k")
      assert(LineFreqIndex.totalDocs(store, "lf").as[Long].head() == total)
    }
  }
}
