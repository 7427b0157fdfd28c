package graft.mql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.llmops.Similarity

/** `$vectorSearch` persisted-index path: a centroidFrame collection
  * resolved by name replaces the per-query corpus seeding pass. */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  // two tight clusters around e1 and e2
  private lazy val emb = Seq(
    (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.95f, 0.05f)),
    (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.1f, 0.9f)), (6L, Seq(0.05f, 0.95f))
  ).toDF("vec_id", "embedding")

  private def withStore[T](f: graft.sinks.DocStore => T): T =
    f(new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("vidx_spec").toString))

  test("centroidFrame round-trips through a store and answers queries") {
    withStore { store =>
      val idx = Similarity.buildIvf(emb, nCells = 2, lloydIters = 0,
        persistIndex = false)
      val cf = Similarity.centroidFrame(idx)
      assert(cf.columns.toSeq == Seq("cell_id", "centroid", "n_members"))
      assert(cf.agg(sum("n_members")).as[Long].head() == 6L)
      store.write(cf, "idx")
      val resolve: PipelineCompiler.TableResolver = {
        case "idx" => store.read("idx")
        case o => fail(s"unexpected $o")
      }
      // query near the e2 cluster with enough candidates for both cells
      val full = PipelineCompiler.run(emb,
        """[{"$vectorSearch": {"index": "idx", "path": "embedding",
             "queryVector": [0.0, 1.0], "limit": 3,
             "numCandidates": 100, "tieBreaker": "vec_id"}},
            {"$project": {"vec_id": 1}}]""", resolve)
        .as[Long].collect().toSet
      assert(full == Set(4L, 5L, 6L))
      // one-probe query: candidates are exactly the members the INDEX
      // assigns to the cell whose centroid is nearest the query
      // (hash-sampled seeds need not align with the true clusters, so
      // the expectation derives from the index itself)
      val cents = cf.orderBy("cell_id")
        .select("cell_id", "centroid")
        .as[(Long, Seq[Double])].collect()
      val best = cents.maxBy { case (cid, c) =>
        val n = math.sqrt(c.map(x => x * x).sum)
        (if (n == 0) 0.0 else c(1) / n, -cid) }._1
      val expected = idx.assigned
        .where(col("cell_id") === best)
        .select(col("match_id")).as[Long].collect().toSet
      val probed = PipelineCompiler.run(emb,
        """[{"$vectorSearch": {"index": "idx", "path": "embedding",
             "queryVector": [0.0, 1.0], "limit": 6,
             "numCandidates": 1, "tieBreaker": "vec_id"}},
            {"$project": {"vec_id": 1}}]""", resolve)
        .as[Long].collect().toSet
      assert(probed == expected,
        s"one-probe candidates $probed != index cell members $expected")
    }
  }

  test("partitioned IVF: probed cells only — unprobed partitions never opened") {
    val root = graft.TestDirs.temp("pivf_spec").toString
    val store = new graft.sinks.DocStore(spark, root, "graftdocs")
    val idx = Similarity.buildIvf(emb, nCells = 2, lloydIters = 0,
      persistIndex = false)
    Similarity.writeIvfPartitioned(store, idx, "vecs")
    // all cells probed → exact: equals brute-force cosine top-k
    val qvec = Seq(0.0, 1.0)
    val got = Similarity.ivfPartitionedTopK(store, "vecs", qvec,
      k = 3, nProbe = 2).select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(4L, 6L, 5L))
    // nProbe=1: plan the query, then PHYSICALLY DELETE the unprobed
    // cell's directory — if the scan pruned it, collect never notices;
    // if pruning were broken this read would throw FileNotFound
    val one = Similarity.ivfPartitionedTopK(store, "vecs", qvec,
      k = 3, nProbe = 1)
    val cellDirs = new java.io.File(s"$root/vecs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length == 2)
    // the probed cell is the one whose centroid leans toward [0,1] —
    // vec 4 = (0,1) always lives there; delete the OTHER directory
    val probedCell = store.read("vecs").where($"vec_id" === 4L)
      .select("cell").as[String].head()
    val unprobed = cellDirs.find(_.getName != s"cell=$probedCell").get
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(unprobed)
    assert(one.select("vec_id").as[Long].collect().toSeq == Seq(4L, 6L, 5L))
  }

  test("fold into partitioned IVF rewrites ONLY the touched cell") {
    val root = graft.TestDirs.temp("pivf_fold").toString
    val store = new graft.sinks.DocStore(spark, root, "graftdocs")
    val idx = Similarity.buildIvf(emb, nCells = 2, lloydIters = 0,
      persistIndex = false)
    Similarity.writeIvfPartitioned(store, idx, "vecs")
    val probedCell = store.read("vecs").where($"vec_id" === 4L)
      .select("cell").as[String].head()
    val otherDir = new java.io.File(s"$root/vecs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .find(_.getName != s"cell=$probedCell").get
    def snapshot(d: java.io.File): Seq[(String, Long)] =
      d.listFiles().filter(_.isFile).map(f => (f.getName, f.lastModified))
        .sortBy(_._1).toSeq
    val before = snapshot(otherDir)
    val beforeMembers = store.read("vecs").where($"cell" === probedCell)
      .select("vec_id").as[Long].collect().toSet
    // two new vectors near the [0,1] cluster → only that cell rewrites
    val batch = Seq((7L, Seq(0.02, 0.98)), (8L, Seq(0.03, 0.97)))
      .toDF("vec_id", "embedding")
    Similarity.foldIvfPartitionedBatch(store, "vecs", batch)
    assert(snapshot(otherDir) == before,
      "untouched cell partition was rewritten")
    assert(store.read("vecs").count() == 8)
    assert(store.read("vecs").where($"cell" === probedCell)
      .select("vec_id").as[Long].collect().toSet == beforeMembers ++ Set(7L, 8L))
    // n_members refreshed by a partition-pruned recount of the touched
    // cells (replay-safe), untouched cells keep their stored count
    val members = store.read("vecs_centroids")
      .select($"cell_id".cast("string"), $"n_members").as[(String, Long)]
      .collect().toMap
    assert(members(probedCell) == beforeMembers.size + 2L &&
      members.values.sum == 8L)
  }

  test("fold replay converges: same batch twice = once (ids + members)") {
    // foreachBatch replay after a crash mid-commit re-runs the fold; the
    // anti-join on the batch's ids and the touched-cell recount must
    // make the second run a no-op in final state
    val root = graft.TestDirs.temp("pivf_replay").toString
    val store = new graft.sinks.DocStore(spark, root, "graftdocs")
    val idx = Similarity.buildIvf(emb, nCells = 2, lloydIters = 0,
      persistIndex = false)
    Similarity.writeIvfPartitioned(store, idx, "vecs")
    val batch = Seq((7L, Seq(0.02, 0.98)), (8L, Seq(0.03, 0.97)))
      .toDF("vec_id", "embedding")
    Similarity.foldIvfPartitionedBatch(store, "vecs", batch)
    val once = store.read("vecs").select("vec_id").as[Long].collect().sorted.toSeq
    val onceMembers = store.read("vecs_centroids")
      .select($"cell_id".cast("string"), $"n_members").as[(String, Long)]
      .collect().toMap
    Similarity.foldIvfPartitionedBatch(store, "vecs", batch) // replay
    assert(store.read("vecs").select("vec_id").as[Long].collect().sorted.toSeq
      == once, "replayed fold duplicated vectors")
    assert(store.read("vecs_centroids")
      .select($"cell_id".cast("string"), $"n_members").as[(String, Long)]
      .collect().toMap == onceMembers, "replayed fold drifted n_members")
  }

  test("buildIvf seed guards: dirty seeds excluded, mixed dims refuse") {
    // a null vector that would land in the seed window must not NPE the
    // driver — it is excluded before the hash-ordered limit
    val dirty = Seq((1L, Seq(1.0, 0.0)), (2L, null), (3L, Seq(0.0, 1.0)),
      (4L, Seq(0.9, 0.1)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.buildIvf(dirty, nCells = 4, lloydIters = 0,
      persistIndex = false)
    assert(idx.centroidRows.length == 3) // the 3 clean vectors
    // mixed dimensions cannot share a quantizer: loud, not silently empty
    val mixed = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.buildIvf(mixed, nCells = 2, lloydIters = 0,
        persistIndex = false))
    assert(e.getMessage.contains("dimension"))
  }

  test("unknown index name falls back to self-seeding; equal results") {
    val base = PipelineCompiler.run(emb,
      """[{"$vectorSearch": {"path": "embedding", "queryVector": [1.0, 0.0],
           "limit": 3, "numCandidates": 100, "nCells": 2,
           "tieBreaker": "vec_id"}},
          {"$project": {"vec_id": 1}}]""")
      .as[Long].collect().toSeq
    val fallback = PipelineCompiler.run(emb,
      """[{"$vectorSearch": {"index": "no_such_index", "path": "embedding",
           "queryVector": [1.0, 0.0], "limit": 3, "numCandidates": 100,
           "nCells": 2, "tieBreaker": "vec_id"}},
          {"$project": {"vec_id": 1}}]""",
      (n: String) => throw new MqlException(s"no $n"))
      .as[Long].collect().toSeq
    assert(base == fallback)
  }

  test("index resolving to a non-index collection is refused loudly") {
    val resolve: PipelineCompiler.TableResolver = { case _ => emb }
    val e = intercept[MqlException] {
      PipelineCompiler.run(emb,
        """[{"$vectorSearch": {"index": "emb", "path": "embedding",
             "queryVector": [1.0, 0.0], "limit": 3}}]""", resolve)
        .collect()
    }
    assert(e.getMessage.contains("not a vector index"))
  }
}
