package graft.mql

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.sinks.DocStore

/** `$out` / `$merge` write tails (WriteStages + PipelineCompiler
  * .runWithWrites) against a temp-dir DocStore. */
class WriteStagesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def freshStore(): DocStore =
    new DocStore(spark,
      graft.TestDirs.temp("graft_store").toString)

  private lazy val src = Seq(
    (1, "ann", 10.0), (2, "bob", 20.0), (3, "cat", 30.0)
  ).toDF("_id", "name", "score")

  private def runW(df: org.apache.spark.sql.DataFrame, p: String,
                   store: DocStore): String =
    PipelineCompiler.runWithWrites(df, p,
      n => throw new MqlException(s"no table $n"), store)

  test("$out writes the pipeline result; re-$out atomically replaces it") {
    val store = freshStore()
    assert(runW(src, """[{"$match": {"score": {"$gte": 20}}}, {"$out": "t"}]""",
      store) == "t")
    assert(store.read("t").count() == 2)
    runW(src, """[{"$out": {"db": "ignored", "coll": "t"}}]""", store)
    assert(store.read("t").count() == 3)
  }

  test("write stage must be last; plain run still rejects both") {
    val store = freshStore()
    intercept[MqlException](
      runW(src, """[{"$out": "t"}, {"$match": {}}]""", store))
    intercept[MqlException](runW(src, """[{"$match": {}}]""", store))
    intercept[MqlException](
      PipelineCompiler.run(src, """[{"$out": "t"}]"""))
  }

  test("$merge with no existing target creates it (whenNotMatched insert)") {
    val store = freshStore()
    runW(src, """[{"$merge": {"into": "t", "on": "_id"}}]""", store)
    assert(store.read("t").count() == 3)
  }

  test("$merge default merge-mode: source columns overlay, target-only kept") {
    val store = freshStore()
    // target has an extra column `tag` and rows 2,3,4
    store.write(Seq((2, "OLD2", "x"), (3, "OLD3", "y"), (4, "OLD4", "z"))
      .toDF("_id", "name", "tag"), "t")
    runW(src, """[{"$merge": {"into": "t", "on": "_id"}}]""", store)
    val rows = store.read("t").orderBy("_id")
      .select("_id", "name", "tag", "score").collect()
    // _id 1: inserted (no tag); 2,3: name+score from source, tag kept;
    // 4: untouched target row (no score)
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      == Seq((1, "ann", null), (2, "bob", "x"), (3, "cat", "y"), (4, "OLD4", "z")))
    assert(rows.map(r => if (r.isNullAt(3)) -1.0 else r.getDouble(3)).toSeq
      == Seq(10.0, 20.0, 30.0, -1.0))
  }

  test("$merge replace nulls target-only columns; keepExisting keeps the row") {
    val store = freshStore()
    store.write(Seq((2, "OLD2", "x")).toDF("_id", "name", "tag"), "t")
    runW(src, """[{"$merge": {"into": "t", "on": "_id",
      "whenMatched": "replace", "whenNotMatched": "discard"}}]""", store)
    val r = store.read("t").collect()
    assert(r.length == 1 && r(0).getString(1) == "bob" && r(0).isNullAt(2))

    val store2 = freshStore()
    store2.write(Seq((2, "OLD2", "x")).toDF("_id", "name", "tag"), "t")
    runW(src, """[{"$merge": {"into": "t", "on": "_id",
      "whenMatched": "keepExisting", "whenNotMatched": "discard"}}]""", store2)
    val r2 = store2.read("t").collect()
    assert(r2.length == 1 && r2(0).getString(1) == "OLD2" && r2(0).getString(2) == "x")
  }

  test("$merge fail modes refuse before any write") {
    val store = freshStore()
    store.write(Seq((2, "OLD2")).toDF("_id", "name"), "t")
    intercept[MqlException](runW(src,
      """[{"$merge": {"into": "t", "on": "_id", "whenMatched": "fail"}}]""", store))
    intercept[MqlException](runW(src,
      """[{"$merge": {"into": "t", "on": "_id", "whenNotMatched": "fail"}}]""", store))
    // target untouched by both failures
    assert(store.read("t").collect().map(_.getString(1)).toSeq == Seq("OLD2"))
  }

  test("$merge whenMatched update pipeline with $$new and let vars") {
    val store = freshStore()
    store.write(Seq((1, 100.0), (2, 200.0)).toDF("_id", "score"), "t")
    // accumulate: score := score + $$new.score
    runW(src, """[{"$merge": {"into": "t", "on": "_id",
      "whenMatched": [{"$set": {"score": {"$add": ["$score", "$$new.score"]}}}],
      "whenNotMatched": "discard"}}]""", store)
    assert(store.read("t").orderBy("_id").select("score")
      .as[Double].collect().toSeq == Seq(110.0, 220.0))

    // explicit let replaces the default $$new
    val store2 = freshStore()
    store2.write(Seq((1, 100.0)).toDF("_id", "score"), "t")
    runW(src, """[{"$merge": {"into": "t", "on": "_id",
      "let": {"half": {"$divide": ["$score", 2]}},
      "whenMatched": [{"$set": {"score": {"$add": ["$score", "$$half"]}}}],
      "whenNotMatched": "discard"}}]""", store2)
    assert(store2.read("t").select("score").as[Double].collect().toSeq
      == Seq(105.0))
  }

  test("$merge multi-key on + validation errors") {
    val store = freshStore()
    store.write(Seq(("a", 1, "old")).toDF("k1", "k2", "v"), "t")
    val s2 = Seq(("a", 1, "new"), ("b", 2, "ins")).toDF("k1", "k2", "v")
    runW(s2, """[{"$merge": {"into": "t", "on": ["k1", "k2"]}}]""", store)
    assert(store.read("t").orderBy("k1").select("v")
      .as[String].collect().toSeq == Seq("new", "ins"))
    intercept[MqlException](runW(s2,
      """[{"$merge": {"into": "t", "on": "missing"}}]""", store))
    intercept[MqlException](runW(s2,
      """[{"$merge": {"into": "t", "whenMatched": "bogus"}}]""", store))
    intercept[MqlException](runW(s2, """[{"$merge": {}}]""", store))
  }

  test("$merge whenMatched that is neither a mode nor a pipeline is refused by name") {
    val store = freshStore()
    store.write(src, "t")
    Seq("5", """{"mode":"replace"}""").foreach { v =>
      val e = intercept[MqlException](runW(src,
        s"""[{"$$merge": {"into": "t", "whenMatched": $v}}]""", store))
      assert(e.getMessage ==
        s"$$merge: whenMatched takes a mode name or a pipeline array, got $v",
        e.getMessage)
    }
  }

  test("graftdocs-format store: $out lands as a SQL-queryable collection") {
    val root = graft.TestDirs.temp("graft_dstore").toString
    val store = new DocStore(spark, root, "graftdocs")
    runW(src, """[{"$match": {"score": {"$gte": 20}}}, {"$out": "hot"}]""", store)
    // schema-exact read-back through the sidecar
    assert(store.read("hot").schema.fields.map(_.dataType.simpleString).toSeq
      == Seq("int", "string", "double"))
    assert(store.read("hot").count() == 2)
    // the store dir IS a GraftCatalog database
    val cat = s"gcw${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.dir", root)
    assert(spark.sql(s"SELECT name FROM $cat.hot ORDER BY _id")
      .collect().map(_.getString(0)).toSeq == Seq("bob", "cat"))
    // $merge back into the doc collection works too
    runW(src, """[{"$merge": {"into": "hot", "on": "_id"}}]""", store)
    assert(store.read("hot").count() == 3)
  }

  test("partition-scoped $merge rewrites only the touched partitions") {
    val root = graft.TestDirs.temp("graft_pmerge").toString
    val store = new DocStore(spark, root, "graftdocs")
    store.overwritePartitions(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("grp", "id", "bal"), "t", Seq("grp"))
    assert(store.partitionColumnsOf("t") == Seq("grp"))
    def bFiles(): Map[String, Long] = {
      val d = new java.io.File(s"$root/t/grp=b")
      d.listFiles().filter(_.isFile).map(f => f.getName -> f.lastModified).toMap
    }
    val before = bFiles()
    // touch grp=a (update id=1, insert id=9) and grp=c (new partition)
    val src = Seq(("a", 1L, 11.0), ("a", 9L, 90.0), ("c", 7L, 70.0))
      .toDF("grp", "id", "bal")
    runW(src, """[{"$merge": {"into": "t", "on": ["grp", "id"]}}]""", store)
    // untouched partition: exactly the same files (no rewrite)
    assert(bFiles() == before)
    assert(new java.io.File(s"$root/t/grp=c").isDirectory)
    val rows = store.read("t").orderBy("grp", "id")
      .select("grp", "id", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 1L, 11.0), ("a", 2L, 20.0), ("a", 9L, 90.0),
      ("b", 3L, 30.0), ("c", 7L, 70.0)))
  }

  test("atomicCommit $merge: partitioned target, single-swap commit, same result") {
    // the streaming path (mergeStream) must not commit a partitioned
    // target through per-partition swaps (tags land after the swaps →
    // a replay against a partially-folded target double-counts); the
    // atomic path rewrites through ONE staged swap, preserving both the
    // result and the partition layout
    val root = graft.TestDirs.temp("graft_amerge").toString
    val store = new DocStore(spark, root, "graftdocs")
    store.overwritePartitions(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("grp", "id", "bal"), "t", Seq("grp"))
    val src = Seq(("a", 1L, 11.0), ("c", 7L, 70.0)).toDF("grp", "id", "bal")
    PipelineCompiler.runWithWrites(src,
      """[{"$merge": {"into": "t", "on": ["grp", "id"]}}]""",
      n => throw new MqlException(s"no $n"), store,
      tags = Map("batchId" -> "5"), atomicCommit = true): Unit
    // content identical to the scoped path's semantics
    val rows = store.read("t").orderBy("grp", "id")
      .select("grp", "id", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", 1L, 11.0), ("a", 2L, 20.0),
      ("b", 3L, 30.0), ("c", 7L, 70.0)))
    // layout preserved and the tag committed with the swap
    assert(store.partitionColumnsOf("t") == Seq("grp"))
    assert(new java.io.File(s"$root/t/grp=c").isDirectory)
    assert(store.readTag("t", "batchId").contains("5"))
  }

  test("$merge whenMatched pipeline rejects non-whitelisted stages") {
    val store = freshStore()
    store.write(Seq((1, "x")).toDF("_id", "name"), "t")
    intercept[MqlException](runW(src, """[{"$merge": {"into": "t", "on": "_id",
      "whenMatched": [{"$group": {"_id": null}}]}}]""", store))
  }
}
