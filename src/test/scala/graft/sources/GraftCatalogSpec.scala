package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** GraftCatalog: document collections as SQL tables (TableCatalog). */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Fresh catalog over a fresh root dir (catalog instances cache per
    * name, so every test registers its own). */
  private def freshCatalog(): (String, String) = {
    val root = graft.TestDirs.temp("graft_catspec").toString
    val cat = s"gc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.dir", root)
    (cat, root)
  }

  private def seed(root: String, coll: String): Unit =
    Seq((1L, "ann", 10.5), (2L, "bob", 20.0), (3L, "cat", 30.25))
      .toDF("id", "name", "bal")
      .write.format("graftdocs").mode("overwrite").save(s"$root/$coll")

  test("SELECT over a catalog collection, with filter pushdown in the plan") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    val df = spark.sql(s"SELECT name FROM $cat.people WHERE id >= 2 ORDER BY name")
    assert(df.as[String].collect().toSeq == Seq("bob", "cat"))
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("graftdocs"), s"expected a graftdocs scan:\n$desc")
    assert(desc.contains("GreaterThanOrEqual(id,2)") || desc.contains("id >= 2"),
      s"expected the filter pushed to the scan:\n$desc")
  }

  test("VERSION AS OF / TIMESTAMP AS OF time-travel over DocStore snapshots") {
    val (cat, root) = freshCatalog()
    val store = new graft.sinks.DocStore(spark, root, "graftdocs")
    store.writeVersioned(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "c"): Unit
    Thread.sleep(5)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    store.writeVersioned(Seq((3L, "z")).toDF("id", "v"), "c"): Unit
    def ids(sql: String): Set[Long] =
      spark.sql(sql).select("id").as[Long].collect().toSet
    assert(ids(s"SELECT id FROM $cat.c") == Set(3L))
    assert(ids(s"SELECT id FROM $cat.c VERSION AS OF 1") == Set(1L, 2L))
    // v1 was live at betweenMs (retired by the second write, after it)
    val iso = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(ids(s"SELECT id FROM $cat.c TIMESTAMP AS OF '$iso'") == Set(1L, 2L))
    // a timestamp after every retirement resolves to the live table
    val future = java.time.Instant.ofEpochMilli(
      System.currentTimeMillis() + 60000).toString
    assert(ids(s"SELECT id FROM $cat.c TIMESTAMP AS OF '$future'") == Set(3L))
    // unknown version / non-numeric version fail loudly
    val e1 = intercept[Exception](
      spark.sql(s"SELECT id FROM $cat.c VERSION AS OF 9").collect())
    assert(e1.getMessage.contains("no version 9"))
    val e2 = intercept[Exception](
      spark.sql(s"SELECT id FROM $cat.c VERSION AS OF 'x1'").collect())
    assert(e2.getMessage.contains("numeric graft version id"))
  }

  test("SHOW TABLES lists collections; DROP TABLE removes one") {
    val (cat, root) = freshCatalog()
    seed(root, "aaa"); seed(root, "bbb")
    val listed = spark.sql(s"SHOW TABLES IN $cat")
      .select("tableName").as[String].collect().sorted.toSeq
    assert(listed == Seq("aaa", "bbb"))
    spark.sql(s"DROP TABLE $cat.aaa")
    assert(spark.sql(s"SHOW TABLES IN $cat")
      .select("tableName").as[String].collect().toSeq == Seq("bbb"))
    assert(!new java.io.File(s"$root/aaa").exists())
  }

  test("CTAS writes documents + schema sidecar; read-back is type-exact") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    spark.sql(s"CREATE TABLE $cat.rich AS SELECT * FROM $cat.people WHERE bal > 15")
    assert(new java.io.File(s"$root/rich/_graft_schema.json").exists())
    val back = spark.table(s"$cat.rich")
    // sidecar beats inference: long stays long, double stays double
    assert(back.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      == Seq(("id", "bigint"), ("name", "string"), ("bal", "double")))
    assert(back.orderBy("id").select("id").as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("INSERT INTO appends through the document write path") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    spark.sql(s"CREATE TABLE $cat.copy AS SELECT * FROM $cat.people")
    spark.sql(s"INSERT INTO $cat.copy VALUES (9, 'zed', 1.25)")
    assert(spark.table(s"$cat.copy").count() == 4)
    assert(spark.sql(s"SELECT name FROM $cat.copy WHERE id = 9")
      .as[String].collect().toSeq == Seq("zed"))
  }

  test("ALTER TABLE RENAME moves the collection directory") {
    val (cat, root) = freshCatalog()
    seed(root, "old_name")
    spark.sql(s"ALTER TABLE $cat.old_name RENAME TO new_name")
    assert(spark.table(s"$cat.new_name").count() == 3)
    assert(!new java.io.File(s"$root/old_name").exists())
    intercept[Exception](spark.table(s"$cat.old_name").count())
  }

  test("missing table and nested namespaces are refused") {
    val (cat, _) = freshCatalog()
    intercept[Exception](spark.table(s"$cat.nope").count())
    intercept[Exception](spark.sql(s"SHOW TABLES IN $cat.sub").collect())
  }

  test("readStream.table tails a catalog collection (MICRO_BATCH_READ)") {
    val (cat, root) = freshCatalog()
    seed(root, "feed")
    val ckpt = graft.TestDirs.temp("graft_catstream").toString
    val name = s"catstream${System.nanoTime()}"
    val q = spark.readStream.table(s"$cat.feed")
      .groupBy().count()
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("Graft.Db: MQL against a catalog database, $lookup + $out inside it") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    Seq((1L, "eng"), (2L, "ops"), (3L, "eng"))
      .toDF("id", "dept")
      .write.format("graftdocs").mode("overwrite").save(s"$root/depts")
    val db = graft.api.Graft.Db(spark, cat)
    assert(db.find("people", """{"bal": {"$gte": 15}}""").count() == 2)
    val joined = db.aggregate("people", """[
      {"$lookup": {"from": "depts", "localField": "id",
                   "foreignField": "id", "as": "d"}},
      {"$unwind": "$d"},
      {"$project": {"name": 1, "dept": "$d.dept"}},
      {"$sort": {"name": 1}}]""")
    assert(joined.select("dept").collect().map(_.getString(0)).toSeq
      == Seq("eng", "ops", "eng"))
    val target = db.aggregateTo("people", """[
      {"$group": {"_id": "$name", "n": {"$count": {}}}},
      {"$out": "by_name"}]""")
    assert(target == "by_name")
    assert(spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .as[String].collect().toSet.contains("by_name"))
    assert(spark.table(s"$cat.by_name").count() == 3)
  }

  test("Db.explain: the explain command renders the compiled plan") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    val db = graft.api.Graft.Db(spark, cat)
    val fp = db.explainFind("people", """{"bal": {"$gte": 15}}""")
    // a physical plan with the filter compiled in, over the doc source
    assert(fp.contains("Physical Plan"))
    assert(fp.contains("bal") && fp.contains("15"))
    val ap = db.explainAggregate("people", """[
      {"$group": {"_id": "$name", "n": {"$count": {}}}}]""")
    assert(ap.contains("Physical Plan"))
    assert(ap.toLowerCase.contains("hashaggregate"))
  }

  test("Db.createSearchIndex / createVectorIndex: build, store, query through $search/$vectorSearch") {
    val (cat, root) = freshCatalog()
    Seq((1L, "spark makes data simple", Seq(1.0f, 0.0f)),
        (2L, "spark query engines", Seq(0.9f, 0.1f)),
        (3L, "window functions rank", Seq(0.0f, 1.0f)))
      .toDF("id", "text", "vec")
      .write.format("graftdocs").mode("overwrite").save(s"$root/docs")
    val db = graft.api.Graft.Db(spark, cat)
    assert(db.createSearchIndex("docs", "docs_text_idx", Seq("text"))
      == "docs_text_idx")
    // the index is a first-class sibling collection…
    assert(spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .as[String].collect().toSet.contains("docs_text_idx"))
    // …and $search resolves it by name through the same Db resolver,
    // scoring exactly like the corpus-stats pass
    def searchWith(index: String) = db.aggregate("docs", s"""[
      {"$$search": {$index"text": {"query": "spark query", "path": "text"},
        "limit": 5, "tieBreaker": "id"}},
      {"$$project": {"id": 1, "score": {"$$meta": "searchScore"}}},
      {"$$sort": {"score": -1, "id": 1}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = searchWith(""""index": "docs_text_idx", """)
    assert(indexed == searchWith("") && indexed.head._1 == 2L)

    assert(db.createVectorIndex("docs", "docs_vec_idx", "vec",
      nCells = 2, lloydIters = 0, idCol = "id") == "docs_vec_idx")
    val ann = db.aggregate("docs", """[
      {"$vectorSearch": {"index": "docs_vec_idx", "path": "vec",
        "queryVector": [0.0, 1.0], "limit": 1, "numCandidates": 10,
        "tieBreaker": "id"}},
      {"$project": {"id": 1}}]""")
      .collect().map(_.getLong(0)).toSeq
    assert(ann == Seq(3L))

    // listing reports both with their types; data collections excluded
    assert(db.listSearchIndexes().toMap ==
      Map("docs_text_idx" -> "search", "docs_vec_idx" -> "vectorSearch"))
    // drop removes the index; a data collection is refused
    db.dropSearchIndex("docs_vec_idx")
    assert(db.listSearchIndexes().toMap == Map("docs_text_idx" -> "search"))
    intercept[graft.mql.MqlException](db.dropSearchIndex("docs"))
    assert(spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .as[String].collect().toSet.contains("docs"))
  }

  test("Db.watch: change-stream shape, MQL pipeline, incremental tail") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    val db = graft.api.Graft.Db(spark, cat)
    val ckpt = graft.TestDirs.temp("graft_watch").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    def drain(): Unit = {
      val q = db.watch("people", """[
          {"$match": {"fullDocument.bal": {"$gte": 15}}},
          {"$project": {"operationType": 1, "coll": "$ns.coll",
             "name": "$fullDocument.name"}}]""")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r =>
            got.add((r.getString(0), r.getString(1), r.getString(2)))): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val first = got.toArray(Array.empty[(String, String, String)])
    assert(first.map(_._1).forall(_ == "insert"))
    assert(first.map(_._2).forall(_ == "people"))
    assert(first.map(_._3).sorted.toSeq == Seq("bob", "cat"))
    // new arrivals only: the shared checkpoint makes the second drain a
    // pure tail — just the appended document flows through
    got.clear()
    Seq((9L, "zed", 99.0)).toDF("id", "name", "bal")
      .write.format("graftdocs").mode("append").save(s"$root/people")
    drain()
    assert(got.toArray(Array.empty[(String, String, String)]).map(_._3).toSeq
      == Seq("zed"))
  }

  test("aggregate-form change stream: $changeStream first stage routes to watch") {
    val (cat, root) = freshCatalog()
    seed(root, "people")
    val db = graft.api.Graft.Db(spark, cat)
    // Mongo routes coll.aggregate([{$changeStream:{}}, ...]) to the same
    // cursor coll.watch(...) opens — assert the routed frame IS a stream
    // and drains to the same change docs
    val agg = db.aggregate("people", """[
        {"$changeStream": {"fullDocument": "updateLookup"}},
        {"$match": {"fullDocument.bal": {"$gte": 15}}},
        {"$project": {"operationType": 1, "name": "$fullDocument.name"}}]""")
    assert(agg.isStreaming)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ckpt = graft.TestDirs.temp("graft_aggcs").toString
    val q = agg.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getString(0), r.getString(1)))): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val rows = got.toArray(Array.empty[(String, String)])
    assert(rows.map(_._1).forall(_ == "insert"))
    assert(rows.map(_._2).sorted.toSeq == Seq("bob", "cat"))
    // semantic knobs this engine can't honor refuse loudly — keys AND
    // values ("required" pre-images cannot exist here; garbage values
    // must not read as "off")
    intercept[graft.mql.MqlException](
      db.aggregate("people", """[{"$changeStream": {"resumeAfter": {"x": 1}}}]"""))
    intercept[graft.mql.MqlException](
      db.aggregate("people", """[{"$changeStream": 5}]"""))
    intercept[graft.mql.MqlException](
      db.aggregate("people",
        """[{"$changeStream": {"fullDocumentBeforeChange": "required"}}]"""))
    intercept[graft.mql.MqlException](
      db.aggregate("people", """[{"$changeStream": {"fullDocument": 42}}]"""))
    // honest no-ops pass
    assert(db.aggregate("people",
      """[{"$changeStream": {"fullDocumentBeforeChange": "off"}}]""").isStreaming)
    // a non-first $changeStream is not a change stream — normal pipeline
    // compilation rejects the unknown stage
    intercept[Exception](
      db.aggregate("people", """[{"$match": {}}, {"$changeStream": {}}]"""))
  }

  test("version history cannot hijack across drop/rename through the catalog") {
    val (cat, root) = freshCatalog()
    val store = new graft.sinks.DocStore(spark, root, "graftdocs")
    import spark.implicits._
    store.writeVersioned(Seq((1L, "v1")).toDF("id", "v"), "c"): Unit
    store.writeVersioned(Seq((2L, "v2")).toDF("id", "v"), "c"): Unit
    // rename through SQL moves the history WITH the collection
    spark.sql(s"ALTER TABLE $cat.c RENAME TO d")
    assert(spark.sql(s"SELECT v FROM $cat.d VERSION AS OF 1")
      .as[String].head() == "v1")
    assert(!new java.io.File(s"$root/.graft_versions/c").exists)
    // drop keeps history (drop+restore undo), but CREATE over that
    // history refuses — a fresh table must not inherit dead snapshots
    spark.sql(s"DROP TABLE $cat.d")
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.d (id BIGINT, v STRING)"))
    assert(e.getMessage.contains("retired versions"), e.getMessage)
    store.pruneVersions("d", 0)
    spark.sql(s"CREATE TABLE $cat.d (id BIGINT, v STRING)")
    assert(spark.table(s"$cat.d").count() == 0)
  }

  test("invalid names probe as absent; OPTIONS reach the write routing") {
    val (cat, root) = freshCatalog()
    // IF EXISTS over a never-valid name: false, not an error
    spark.sql(s"DROP TABLE IF EXISTS $cat.`_tmp`")
    spark.sql(s"DROP TABLE IF EXISTS $cat.`.hidden`")
    // OPTIONS arrive `option.`-prefixed from SQL: format must land in
    // the sidecar and route every INSERT to bson
    spark.sql(s"CREATE TABLE $cat.b (id BIGINT, v STRING) OPTIONS ('format'='bson')")
    spark.sql(s"INSERT INTO $cat.b VALUES (1, 'x'), (2, 'y')")
    val files = new java.io.File(s"$root/b").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(files.nonEmpty &&
      files.forall(f => f.getName.endsWith(".bson") ||
        f.getName.endsWith(".bson.zmap")),
      files.map(_.getName).mkString(", "))
    assert(spark.table(s"$cat.b").count() == 2)
  }

  test("DocStore.vacuum removes orphaned stage dirs, never collections") {
    val root = graft.TestDirs.temp("graft_vac").toString
    val store = new graft.sinks.DocStore(spark, root)
    store.write(Seq((1, "x")).toDF("_id", "v"), "keep")
    new java.io.File(s"$root/.graft_stage_dead_123").mkdirs()
    assert(store.vacuum() == 1)
    assert(store.read("keep").count() == 1)
    assert(store.vacuum() == 0)
  }

  test("CREATE TABLE with PARTITIONED BY routes inserts into k=v dirs") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.part (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql(s"INSERT INTO $cat.part VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    assert(new java.io.File(s"$root/part/grp=a").isDirectory)
    val back = spark.sql(s"SELECT id FROM $cat.part WHERE grp = 'a' ORDER BY id")
    assert(back.as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("persisted unique-key hint: Db.aggregate auto-engages the " +
       "freeze-free $lookup path (no localCheckpoint / " +
       "monotonically_increasing_id in the plan), results ≡ keyless") {
    val (cat, root) = freshCatalog()
    val st = new graft.sinks.DocStore(spark, root, "graftdocs")
    st.write(Seq((1L, 10L), (2L, 20L), (3L, 10L))
      .toDF("event_id", "user_id"), "ev")
    st.write(Seq((10L, 5.0), (10L, 7.0), (20L, 1.0))
      .toDF("o_custkey", "o_totalprice"), "ord")
    val db = graft.api.Graft.Db(spark, cat)
    // ARRAY localField: the shape whose keyless fallback freezes row
    // identity (scalar equi-key lookups never need it)
    val pipeline = """[
      {"$project": {"event_id": 1, "keys": ["$user_id"]}},
      {"$lookup": {"from": "ord", "localField": "keys",
         "foreignField": "o_custkey", "as": "m"}},
      {"$project": {"event_id": 1, "n": {"$size": "$m"}}},
      {"$sort": {"event_id": 1}}]"""
    // keyless baseline: the correlated/array fallback freezes row ids
    // (the eager localCheckpoint shows as a LogicalRDD — the
    // monotonically_increasing_id is already materialized away)
    val before = db.aggregate("ev", pipeline)
    assert(before.queryExecution.analyzed.toString.contains("LogicalRDD"))
    db.setUniqueKey("ev", "event_id")
    assert(db.store.uniqueKeyOf("ev").contains("event_id"))
    val after = db.aggregate("ev", pipeline)
    // the row identity is now the KEY COLUMN (event_id AS __graft_rid):
    // no checkpoint-materialized LogicalRDD, no synthetic id
    val plan = after.queryExecution.analyzed.toString
    assert(plan.contains("event_id#") && plan.contains("AS __graft_rid"))
    assert(!plan.contains("monotonically_increasing_id") &&
      !plan.contains("LogicalRDD"))
    assert(after.collect().map(_.toSeq).toSeq ==
      before.collect().map(_.toSeq).toSeq)
    assert(after.select("event_id", "n").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 2), (2L, 1), (3L, 2)))
    // a stale hint (column renamed away) is ignored, never fatal
    db.setUniqueKey("ev", "user_id")
    val renamed = db.aggregate("ev",
      """[{"$project": {"eid": "$event_id"}}, {"$sort": {"eid": 1}}]""")
    assert(renamed.count() == 3)
    // setUniqueKey validates the column exists
    assertThrows[graft.mql.MqlException](db.setUniqueKey("ev", "nope"))
  }
}
