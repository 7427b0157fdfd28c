package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** mongod's CRUD write surface over OP_MSG: `update` (operator /
  * replacement / pipeline forms, multi, upsert), `delete` (limit 0/1),
  * `findAndModify` (update/remove, sort, new, fields) — plus the
  * retryable-write contract: a replayed {lsid, txnNumber} acknowledges
  * byte-identically from the transaction log WITHOUT re-applying. */
class OpMsgUpdateSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("_id", IntegerType),
    StructField("name", StringType),
    StructField("qty", LongType),
    StructField("price", DoubleType),
    StructField("tags", ArrayType(StringType))))

  private def seed(): Seq[Row] = Seq(
    Row(1, "apple", 10L, 2.5, Seq("fruit", "red")),
    Row(2, "banana", 5L, 1.0, Seq("fruit")),
    Row(3, "carrot", 20L, 0.5, Seq("veg")),
    Row(4, "donut", 0L, 3.0, null))

  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_upd").toString,
      "graftdocs")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(seed(): _*), schema), "items")
    (store, new OpMsg.Server(spark, store))
  }

  private def rows(store: graft.sinks.DocStore): Map[Int, Row] =
    store.read(store.collections().head).collect()
      .map(r => r.getAs[Int]("_id") -> r).toMap

  test("update multi:true — $set/$inc CASE projection over matches") {
    val (store, srv) = fixture()
    try {
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"qty": {"$gte": 10}}""",
          """{"$set": {"name": "bulk"}, "$inc": {"qty": 7}}""",
          multi = true)))
      assert(res.nMatched == 2 && res.nModified == 2)
      assert(res.upsertedIds.isEmpty)
      val m = rows(store)
      assert(m(1).getAs[String]("name") == "bulk" && m(1).getAs[Long]("qty") == 17L)
      assert(m(3).getAs[String]("name") == "bulk" && m(3).getAs[Long]("qty") == 27L)
      // unmatched rows byte-identical
      assert(m(2).getAs[String]("name") == "banana" && m(2).getAs[Long]("qty") == 5L)
      assert(m(4).getAs[Double]("price") == 3.0)
    } finally srv.stop()
  }

  test("update multi:false touches exactly one document") {
    val (store, srv) = fixture()
    try {
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"tags": "fruit"}""",
          """{"$set": {"price": 9.9}}""")))
      assert(res.nMatched == 1 && res.nModified == 1)
      val m = rows(store)
      assert(m.values.count(_.getAs[Double]("price") == 9.9) == 1)
    } finally srv.stop()
  }

  test("nModified counts only actually-changed documents") {
    val (_, srv) = fixture()
    try {
      // every row matches, but only non-apples change value
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{}""", """{"$set": {"name": "apple"}}""",
          multi = true)))
      assert(res.nMatched == 4 && res.nModified == 3)
    } finally srv.stop()
  }

  test("upsert: no match inserts the query-seeded doc, $setOnInsert applies") {
    val (store, srv) = fixture()
    try {
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 99, "name": "endive"}""",
          """{"$set": {"price": 4.5}, "$setOnInsert": {"qty": 1}}""",
          upsert = true)))
      assert(res.nMatched == 0 && res.nModified == 0)
      assert(res.upsertedIds match {
        case Seq(JInt(n)) => n == 99
        case Seq(JLong(n)) => n == 99L
        case _ => false
      })
      val m = rows(store)
      assert(m(99).getAs[String]("name") == "endive")
      assert(m(99).getAs[Double]("price") == 4.5)
      assert(m(99).getAs[Long]("qty") == 1L)
      // upsert against a MATCHING filter updates instead
      val res2 = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 99}""", """{"$inc": {"qty": 2}}""",
          upsert = true)))
      assert(res2.nMatched == 1 && res2.upsertedIds.isEmpty)
      assert(rows(store)(99).getAs[Long]("qty") == 3L)
    } finally srv.stop()
  }

  test("replacement document: schema columns replaced, _id immutable, absent → null") {
    val (store, srv) = fixture()
    try {
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 2}""",
          """{"name": "plantain", "price": 1.25}""")))
      assert(res.nMatched == 1 && res.nModified == 1)
      val r = rows(store)(2)
      assert(r.getAs[String]("name") == "plantain")
      assert(r.getAs[Double]("price") == 1.25)
      assert(r.isNullAt(r.fieldIndex("qty")))   // absent from replacement
      assert(r.isNullAt(r.fieldIndex("tags")))
    } finally srv.stop()
  }

  test("aggregation-pipeline update: $set expression over the pre-image") {
    val (store, srv) = fixture()
    try {
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": {"$lte": 2}}""",
          """[{"$set": {"price": {"$multiply": ["$price", 2]},
                        "name": {"$toUpper": "$name"}}}]""",
          multi = true)))
      assert(res.nMatched == 2 && res.nModified == 2)
      val m = rows(store)
      assert(m(1).getAs[Double]("price") == 5.0 && m(1).getAs[String]("name") == "APPLE")
      assert(m(2).getAs[Double]("price") == 2.0)
    } finally srv.stop()
  }

  test("array operators: $push $each/$slice, $addToSet, $pull, $pop") {
    val (store, srv) = fixture()
    try {
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$push": {"tags": {"$each": ["crisp", "red"]}}}"""))): Unit
      assert(rows(store)(1).getAs[scala.collection.Seq[String]]("tags").toList ==
        List("fruit", "red", "crisp", "red"))
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$pull": {"tags": "red"}}"""))): Unit
      assert(rows(store)(1).getAs[scala.collection.Seq[String]]("tags").toList == List("fruit", "crisp"))
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 2}""",
          """{"$addToSet": {"tags": "fruit"}}"""))): Unit
      assert(rows(store)(2).getAs[scala.collection.Seq[String]]("tags").toList == List("fruit"))
      // $push on a NULL array column starts from empty (mongod: missing)
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 4}""",
          """{"$push": {"tags": "sweet"}}"""))): Unit
      assert(rows(store)(4).getAs[scala.collection.Seq[String]]("tags").toList == List("sweet"))
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$pop": {"tags": 1}}"""))): Unit
      assert(rows(store)(1).getAs[scala.collection.Seq[String]]("tags").toList == List("fruit"))
    } finally srv.stop()
  }

  test("$rename / $unset / $min / $max / $mul") {
    val (store, srv) = fixture()
    try {
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 3}""",
          """{"$min": {"price": 0.4}, "$max": {"qty": 25},
             "$mul": {"price": 1}}"""))): Unit
      val r = rows(store)(3)
      // $min lowered price to 0.4, then $mul by 1 keeps it (threading)
      assert(r.getAs[Double]("price") == 0.4)
      assert(r.getAs[Long]("qty") == 25L)
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 3}""", """{"$unset": {"name": ""}}"""))): Unit
      assert(rows(store)(3).isNullAt(1))
    } finally srv.stop()
  }

  test("retryable update: replayed (lsid, txnNumber) does not re-apply") {
    val (store, srv) = fixture()
    try {
      val session = Some(("sess-upd-1", 41L))
      val first = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""", """{"$inc": {"qty": 5}}""")),
        session = session)
      assert(first.nModified == 1)
      assert(rows(store)(1).getAs[Long]("qty") == 15L)
      // replay: identical ack, NO second increment
      val again = OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""", """{"$inc": {"qty": 5}}""")),
        session = session)
      assert(again == first)
      assert(rows(store)(1).getAs[Long]("qty") == 15L)
      // a NEW txnNumber applies
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""", """{"$inc": {"qty": 5}}""")),
        session = Some(("sess-upd-1", 42L))): Unit
      assert(rows(store)(1).getAs[Long]("qty") == 20L)
    } finally srv.stop()
  }

  test("delete: limit 0 removes all matches, limit 1 exactly one; retryable") {
    val (store, srv) = fixture()
    try {
      val n1 = OpMsg.delete("127.0.0.1", srv.port, "graft", "items",
        Seq(("""{"tags": "fruit"}""", 1)))
      assert(n1 == 1L && rows(store).size == 3)
      val session = Some(("sess-del-1", 7L))
      val n2 = OpMsg.delete("127.0.0.1", srv.port, "graft", "items",
        Seq(("""{"qty": {"$gte": 0}}""", 0)), session = session)
      val left = rows(store).size
      val n2r = OpMsg.delete("127.0.0.1", srv.port, "graft", "items",
        Seq(("""{"qty": {"$gte": 0}}""", 0)), session = session)
      assert(n2r == n2 && rows(store).size == left)
    } finally srv.stop()
  }

  test("findAndModify: sort picks the doc; new/fields/remove forms") {
    val (store, srv) = fixture()
    try {
      // cheapest fruit (banana), post-image, projected
      val v = OpMsg.findAndModify("127.0.0.1", srv.port, "graft", "items",
        query = """{"tags": "fruit"}""", sort = Some("""{"price": 1}"""),
        update = Some("""{"$inc": {"qty": 100}}"""), returnNew = true,
        fields = Some("""{"name": 1, "qty": 1}"""))
      val doc = v.get.obj.toMap
      assert(doc("name") == JString("banana"))
      assert(doc("qty") == JLong(105L) || doc("qty") == JInt(105))
      assert(doc.contains("_id") && !doc.contains("price"))
      // pre-image by default
      val pre = OpMsg.findAndModify("127.0.0.1", srv.port, "graft", "items",
        query = """{"_id": 2}""", update = Some("""{"$set": {"qty": 0}}"""))
      assert(pre.get.obj.toMap.apply("qty") == JLong(105L) ||
        pre.get.obj.toMap.apply("qty") == JInt(105))
      // remove returns the removed doc
      val rem = OpMsg.findAndModify("127.0.0.1", srv.port, "graft", "items",
        query = """{"_id": 3}""", remove = true)
      assert(rem.get.obj.toMap.apply("name") == JString("carrot"))
      assert(!rows(store).contains(3))
      // no match → None
      assert(OpMsg.findAndModify("127.0.0.1", srv.port, "graft", "items",
        query = """{"_id": 12345}""", remove = true).isEmpty)
    } finally srv.stop()
  }

  test("findAndModify upsert inserts and reports upserted id") {
    val (store, srv) = fixture()
    try {
      val v = OpMsg.findAndModify("127.0.0.1", srv.port, "graft", "items",
        query = """{"_id": 50, "name": "fig"}""",
        update = Some("""{"$set": {"price": 6.0}}"""),
        upsert = true, returnNew = true)
      val doc = v.get.obj.toMap
      assert(doc("name") == JString("fig") && doc("price") == JDouble(6.0))
      assert(rows(store)(50).getAs[Double]("price") == 6.0)
    } finally srv.stop()
  }

  test("positional updates: $[] hits every element, $[id] + " +
       "arrayFilters gates by element condition, struct sub-paths " +
       "update through withField; refusal matrix") {
    val gradesSchema = StructType(Seq(
      StructField("_id", IntegerType),
      StructField("grades", ArrayType(LongType)),
      StructField("items", ArrayType(StructType(Seq(
        StructField("sku", StringType),
        StructField("qty", LongType)))))))
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_pos").toString,
      "graftdocs")
    store.write(spark.createDataFrame(java.util.Arrays.asList(
      Row(1, Seq(95L, 92L, 60L), Seq(Row("a", 1L), Row("b", 5L))),
      Row(2, Seq(55L, 100L), Seq(Row("a", 9L)))), gradesSchema), "g")
    val srv = new OpMsg.Server(spark, store)
    try {
      def rows(): Map[Int, Row] = store.read("g").collect()
        .map(r => r.getAs[Int]("_id") -> r).toMap
      // $[] — every element
      OpMsg.update("127.0.0.1", srv.port, "graft", "g", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$inc": {"grades.$[]": 1}}"""))): Unit
      assert(rows()(1).getAs[scala.collection.Seq[Long]]("grades").toList ==
        List(96L, 93L, 61L))
      // $[low] + arrayFilters: only elements under 70
      val res = OpMsg.update("127.0.0.1", srv.port, "graft", "g", Seq(
        OpMsg.UpdateSpec("""{}""",
          """{"$set": {"grades.$[low]": 0}}""", multi = true,
          arrayFilters = Some("""[{"low": {"$lt": 70}}]"""))))
      assert(res.nMatched == 2 && res.nModified == 2)
      assert(rows()(1).getAs[scala.collection.Seq[Long]]("grades").toList ==
        List(96L, 93L, 0L))
      assert(rows()(2).getAs[scala.collection.Seq[Long]]("grades").toList ==
        List(0L, 100L))
      // struct sub-path: items.$[it].qty with a dotted filter key
      OpMsg.update("127.0.0.1", srv.port, "graft", "g", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$set": {"items.$[it].qty": 99}}""",
          arrayFilters = Some("""[{"it.sku": "b"}]""")))): Unit
      val items = rows()(1).getAs[scala.collection.Seq[Row]]("items")
      assert(items.map(r => (r.getString(0), r.getLong(1))).toList ==
        List(("a", 1L), ("b", 99L)))
      // nModified: a $set to the same values changes nothing
      val noop = OpMsg.update("127.0.0.1", srv.port, "graft", "g", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""",
          """{"$set": {"items.$[it].qty": 99}}""",
          arrayFilters = Some("""[{"it.sku": "b"}]"""))))
      assert(noop.nMatched == 1 && noop.nModified == 0)
      // refusals: unknown identifier, unused filter, deep positional
      def fails(u: String, af: Option[String], needle: String): Unit = {
        val e = intercept[IllegalArgumentException] {
          OpMsg.update("127.0.0.1", srv.port, "graft", "g", Seq(
            OpMsg.UpdateSpec("""{"_id": 1}""", u, arrayFilters = af)))
        }
        assert(e.getMessage.contains(needle), e.getMessage)
      }
      fails("""{"$set": {"grades.$[zz]": 1}}""", None, "zz")
      fails("""{"$set": {"grades.$[]": 1}}""",
        Some("""[{"low": {"$lt": 70}}]"""), "not used")
      fails("""{"$set": {"items.$[it].sub.$[]": 1}}""",
        Some("""[{"it.sku": "a"}]"""), "nested")
    } finally srv.stop()
  }

  test("refusals: _id immutable, mixed update doc, JS surface named") {
    val (_, srv) = fixture()
    try {
      def fails(u: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException] {
          OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
            OpMsg.UpdateSpec("""{"_id": 1}""", u)))
        }
        assert(e.getMessage.contains(needle), e.getMessage)
      }
      fails("""{"$set": {"_id": 9}}""", "_id")
      fails("""{"$set": {"a": 1}, "plain": 2}""", "mixes")
      fails("""{"$function": {"body": "x"}}""", "JavaScript")
      fails("""{"$fancy": {"a": 1}}""", "$fancy")
    } finally srv.stop()
  }

  test("update refreshes a PRELOADED collection (stale LocalRelation)") {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_updp").toString,
      "graftdocs")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(seed(): _*), schema), "items")
    val srv = new OpMsg.Server(spark, store, preload = true)
    try {
      OpMsg.update("127.0.0.1", srv.port, "graft", "items", Seq(
        OpMsg.UpdateSpec("""{"_id": 1}""", """{"$set": {"name": "zz"}}"""))): Unit
      // a wire find (served from the preload) sees the update
      val served = OpMsg.find(spark, "127.0.0.1", srv.port, "graft", "items",
        Seq(org.apache.spark.sql.sources.EqualTo("_id", 1)))
      assert(served.collect().head.getAs[String]("name") == "zz")
    } finally srv.stop()
  }
}
