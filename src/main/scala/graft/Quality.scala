package graft

import org.apache.spark.sql.functions._
import graft.llmops.{Dedup, Similarity}

/** Approximation-quality report: recall/precision of the approximate
  * operators against their exact ground truths on the fixtures.
  * Usage: runMain graft.Quality [sfDir] — prints one JSON line. */
object Quality {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def prf(got: Set[(Long, Long)], truth: Set[(Long, Long)]): (Double, Double) = {
      val tp = (got & truth).size.toDouble
      (if (truth.isEmpty) 1.0 else tp / truth.size,
       if (got.isEmpty) 1.0 else tp / got.size)
    }

    // near-dup: jaccard ground truth vs minhash-LSH
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val (mhR, mhP) = prf(mh, truth)

    // ANN: brute-force top-10 vs IVF (partial probe) per query, with
    // and without the spherical-k-means centroid refinement
    val queries = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(queries, emb, 10)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val ivf0 = Similarity.ivfTopK(queries, emb, 10, nCells = 16, nProbe = 4,
        lloydIters = 0)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val (ivf0R, ivf0P) = prf(ivf0, bf)
    val ivf = Similarity.ivfTopK(queries, emb, 10, nCells = 16, nProbe = 4,
        lloydIters = 1)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val (ivfR, ivfP) = prf(ivf, bf)

    // PQ-ADC top-10 (m=8 × 16 codes = 8 bytes/vector) vs brute force,
    // hash-sampled codebooks and after one Lloyd refinement pass
    val pq = Similarity.pqTopK(queries, emb, 10)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val (pqR, pqP) = prf(pq, bf)
    val pqL = Similarity.pqTopK(queries, emb, 10, lloydIters = 1)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val (pqLR, pqLP) = prf(pqL, bf)

    // SemDeDup drop-set vs the exact-cosine dedup drop-set on the
    // bounded ground-truth slice (vec_id < 300, as q_emb_dedup)
    val slice = emb.where(col("vec_id") < 300)
    val sliceIds = slice.select("vec_id").as[Long].collect().toSet
    def drops(kept: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      (sliceIds -- kept.select("vec_id").as[Long].collect().toSet).map((_, 0L))
    val exactDrops = drops(Dedup.embeddingDedup(slice, "vec_id", "embedding",
      threshold = 0.4, exact = true))
    val semDrops = drops(Dedup.semanticDedup(slice, "vec_id", "embedding",
      threshold = 0.4, nCells = 8))
    val (sdR, sdP) = prf(semDrops, exactDrops)

    // BPE compression: corpus code points per token after 64 / 256
    // trained merges (the curve a tokenizer-training run tracks —
    // flat means the merge table stopped paying for itself)
    val merges = graft.llmops.Bpe.train(docs, "text", nMerges = 256)
    def totalToks(ms: Seq[(String, String)]): Double =
      docs.select(sum(size(graft.llmops.Bpe.encode(col("text"), ms)))
        .cast("double")).as[Double].head()
    val cps = totalToks(Nil)
    val cpt64 = cps / totalToks(merges.take(64).map(m => (m._1, m._2)))
    val cpt256 = cps / totalToks(merges.map(m => (m._1, m._2)))

    println(
      s"""{"sf":"$sfDir","near_dup_truth_pairs":${truth.size},""" +
      s""""minhash":{"recall":$mhR,"precision":$mhP},""" +
      s""""ivf_top10_nprobe4of16_hash_sample":{"recall":$ivf0R,"precision":$ivf0P},""" +
      s""""ivf_top10_nprobe4of16_lloyd1":{"recall":$ivfR,"precision":$ivfP},""" +
      s""""pq_top10_m8x16":{"recall":$pqR,"precision":$pqP},""" +
      s""""pq_top10_m8x16_lloyd1":{"recall":$pqLR,"precision":$pqLP},""" +
      s""""semdedup_drops_8cells":{"recall":$sdR,"precision":$sdP},""" +
      s""""bpe_code_points_per_token":{"merges64":$cpt64,"merges256":$cpt256}}""")
    spark.stop()
  }
}
