package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Driver-compat read/discovery commands over OP_MSG — the first
  * things a real driver or shell issues: listCollections /
  * listDatabases / listIndexes, and the classic read helpers
  * `distinct` (with mongod's array-unwinding semantics) and `count`
  * (skip subtracts, limit caps). */
class OpMsgCommandSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("_id", IntegerType),
    StructField("kind", StringType),
    StructField("n", LongType),
    StructField("tags", ArrayType(StringType))))

  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_opmsg_cmd").toString,
      "graftdocs")
    val items = Seq(
      Row(1, "a", 10L, Seq("x", "y")),
      Row(2, "b", 20L, Seq("y", "z")),
      Row(3, "a", 30L, Seq("z")),
      Row(4, "c", 40L, null),
      Row(5, "a", 50L, Seq("x")))
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(items: _*), schema), "items")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(Row(9, "q", 1L, null)), schema), "aux")
    (store, new OpMsg.Server(spark, store))
  }

  private def cmd(srv: OpMsg.Server, doc: (String, JValue)*)
      : Map[String, JValue] =
    OpMsg.command("127.0.0.1", srv.port, "graft", JObject(doc.toList))

  test("listCollections: every live collection, cursor shape, id 0") {
    val (_, srv) = fixture()
    try {
      val reply = cmd(srv, "listCollections" -> JInt(1))
      val cursor = reply("cursor").asInstanceOf[JObject].obj.toMap
      assert(cursor("id") == JLong(0L))
      val names = cursor("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
          .map(d => (d("name"), d("type")))
        case other => fail(s"bad firstBatch $other")
      }
      assert(names.toSet ==
        Set((JString("aux"), JString("collection")),
          (JString("items"), JString("collection"))))
    } finally srv.stop()
  }

  test("listDatabases / listIndexes: the one-db reply; _id index stub " +
       "plus the declared unique key; missing ns = code 26") {
    val (store, srv) = fixture()
    try {
      val dbs = cmd(srv, "listDatabases" -> JInt(1))("databases")
      assert(dbs == JArray(List(JObject(List(
        "name" -> JString("graft"), "empty" -> JBool(false))))))
      val idx0 = cmd(srv, "listIndexes" -> JString("items"))("cursor")
        .asInstanceOf[JObject].obj.toMap.apply("firstBatch")
      assert(idx0 == JArray(List(JObject(List(
        "v" -> JInt(2),
        "key" -> JObject(List("_id" -> JInt(1))),
        "name" -> JString("_id_"))))))
      store.setUniqueKey("items", "_id")
      val idx1 = cmd(srv, "listIndexes" -> JString("items"))("cursor")
        .asInstanceOf[JObject].obj.toMap.apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
        case other => fail(s"bad firstBatch $other")
      }
      assert(idx1.length == 2 && idx1(1)("unique") == JBool(true))
      val e = intercept[IllegalArgumentException](
        cmd(srv, "listIndexes" -> JString("nope")))
      assert(e.getMessage.contains("ns does not exist"))
    } finally srv.stop()
  }

  test("distinct: scalar keys, filtered, sorted; ARRAY keys unwind to " +
       "distinct elements (mongod semantics)") {
    val (_, srv) = fixture()
    try {
      assert(cmd(srv, "distinct" -> JString("items"),
        "key" -> JString("kind"))("values") ==
        JArray(List(JString("a"), JString("b"), JString("c"))))
      assert(cmd(srv, "distinct" -> JString("items"),
        "key" -> JString("kind"),
        "query" -> JObject(List("n" -> JObject(List(
          "$gte" -> JInt(30))))))("values") ==
        JArray(List(JString("a"), JString("c"))))
      // array field: distinct ELEMENTS, null rows contribute nothing
      assert(cmd(srv, "distinct" -> JString("items"),
        "key" -> JString("tags"))("values") ==
        JArray(List(JString("x"), JString("y"), JString("z"))))
    } finally srv.stop()
  }

  test("bulkWrite (mongod 8.0): mixed insert/update/delete ops against " +
       "nsInfo-indexed collections, ordered halt-on-error, summary " +
       "counts + per-op results cursor; retryable as ONE log entry") {
    val (store, srv) = fixture()
    try {
      def bulk(session: Option[(String, Long)] = None)
          : Map[String, JValue] =
        OpMsg.command("127.0.0.1", srv.port, "graft", JObject(List(
          "bulkWrite" -> JInt(1),
          "ops" -> JArray(List(
            JObject(List("insert" -> JInt(0), "document" -> JObject(List(
              "_id" -> JInt(6), "kind" -> JString("d"), "n" -> JLong(60L))))),
            JObject(List("update" -> JInt(0),
              "filter" -> JObject(List("kind" -> JString("a"))),
              "updateMods" -> JObject(List("$inc" -> JObject(List(
                "n" -> JInt(1))))),
              "multi" -> JBool(true))),
            JObject(List("delete" -> JInt(1),
              "filter" -> JObject(Nil), "multi" -> JBool(true))))),
          "nsInfo" -> JArray(List(
            JObject(List("ns" -> JString("graft.items"))),
            JObject(List("ns" -> JString("graft.aux"))))))),
          session = session)
      val r = bulk(Some(("bulk-sess", 3L)))
      assert(r("nInserted") == JLong(1L))
      assert(r("nMatched") == JLong(3L) && r("nModified") == JLong(3L))
      assert(r("nDeleted") == JLong(1L) && r("nErrors") == JLong(0L))
      val batch = r("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
        case other => fail(s"bad firstBatch $other")
      }
      assert(batch.length == 3 && batch.forall(_("ok") == JDouble(1.0)))
      assert(store.read("items").count() == 6)
      assert(store.read("aux").count() == 0)
      // replay: identical ack modulo the cluster-time gossip (the
      // envelope is stamped fresh per reply, mongod-style; the logged
      // COMMAND RESULT must not re-apply), NO re-application
      def core(m: Map[String, JValue]): Map[String, JValue] =
        m -- Seq("operationTime", "$clusterTime")
      val again = bulk(Some(("bulk-sess", 3L)))
      assert(core(again) == core(r))
      assert(store.read("items").count() == 6)
      // ordered halt-on-error: a bad op stops the batch, results-so-far
      val err = OpMsg.command("127.0.0.1", srv.port, "graft", JObject(List(
        "bulkWrite" -> JInt(1),
        "ops" -> JArray(List(
          JObject(List("update" -> JInt(0),
            "filter" -> JObject(Nil),
            "updateMods" -> JObject(List("$set" -> JObject(List(
              "_id" -> JInt(0))))), "multi" -> JBool(true))),
          JObject(List("insert" -> JInt(0), "document" -> JObject(List(
            "_id" -> JInt(7), "kind" -> JString("x"))))))),
        "nsInfo" -> JArray(List(
          JObject(List("ns" -> JString("graft.items"))))))))
      assert(err("nErrors") == JLong(1L) && err("nInserted") == JLong(0L))
      assert(store.read("items").where(
        org.apache.spark.sql.functions.col("_id") === 7).count() == 0)
    } finally srv.stop()
  }

  test("explain wraps find/aggregate and answers the compiled plan " +
       "(queryPlanner shape) instead of a cursor") {
    val (_, srv) = fixture()
    try {
      val r = cmd(srv, "explain" -> JObject(List(
        "find" -> JString("items"),
        "filter" -> JObject(List("kind" -> JString("a"))))))
      val qp = r("queryPlanner").asInstanceOf[JObject].obj.toMap
      assert(qp("namespace") == JString("graft.items"))
      val plan = qp("winningPlan").asInstanceOf[JObject].obj.toMap
        .apply("plan") match {
        case JString(p) => p
        case other => fail(s"bad plan $other")
      }
      // the compiled filter reached the physical plan
      assert(plan.contains("Filter") || plan.contains("PushedFilters"), plan)
      val agg = cmd(srv, "explain" -> JObject(List(
        "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(JObject(List("$group" -> JObject(List(
          "_id" -> JString("$kind"),
          "n" -> JObject(List("$sum" -> JInt(1))))))))))))
      val ap = agg("queryPlanner").asInstanceOf[JObject].obj.toMap
        .apply("winningPlan").asInstanceOf[JObject].obj.toMap
        .apply("plan") match {
        case JString(p) => p
        case other => fail(s"bad plan $other")
      }
      assert(ap.contains("HashAggregate"), ap)
      intercept[IllegalArgumentException](
        cmd(srv, "explain" -> JObject(List("ping" -> JInt(1)))))
    } finally srv.stop()
  }

  test("explain of a find that names no collection is refused by name") {
    val (_, srv) = fixture()
    try {
      val e = intercept[IllegalArgumentException](
        cmd(srv, "explain" -> JObject(List("find" -> JInt(1)))))
      assert(e.getMessage.startsWith("explain failed: ") &&
        e.getMessage.contains("explain: find takes a collection name, got 1"),
        e.getMessage)
    } finally srv.stop()
  }

  test("drop / renameCollection over the wire ride the DDL journal: " +
       "change streams see the events; missing ns = code 26") {
    val (store, srv) = fixture()
    try {
      // caught-up watch, then wire DDL, then resume sees the journal
      val (_, tok) = OpMsg.watch(spark, "127.0.0.1", srv.port, "graft",
        "items", keyField = "_id")
      cmd(srv, "renameCollection" -> JString("graft.items"),
        "to" -> JString("graft.items2")): Unit
      assert(store.exists("items2") && !store.exists("items"))
      val (ddl, _) = OpMsg.watch(spark, "127.0.0.1", srv.port, "graft",
        "items", keyField = "_id", resumeAfter = Some(tok))
      assert(ddl.select("operationType").collect().map(_.getString(0))
        .toSeq.sorted == Seq("invalidate", "rename"))
      val dropped = cmd(srv, "drop" -> JString("items2"))
      assert(dropped("ns") == JString("graft.items2"))
      assert(!store.exists("items2"))
      val e = intercept[IllegalArgumentException](
        cmd(srv, "drop" -> JString("items2")))
      assert(e.getMessage.contains("ns not found"))
    } finally srv.stop()
  }

  test("views: create(viewOn, pipeline) resolves on find/aggregate/" +
       "count/distinct, chains, lists as type 'view', refuses writes, " +
       "drops; plain create refuses naming the fixed-schema reason") {
    val (store, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("a_items"),
        "viewOn" -> JString("items"),
        "pipeline" -> JArray(List(
          JObject(List("$match" -> JObject(List("kind" -> JString("a"))))),
          JObject(List("$project" -> JObject(List(
            "_id" -> JInt(1), "n" -> JInt(1)))))))): Unit
      // find on the view (plus an extra filter pushed through it)
      val viaFind = OpMsg.find(spark, "127.0.0.1", srv.port, "graft",
        "a_items",
        Seq(org.apache.spark.sql.sources.GreaterThan("n", 10L)))
      assert(viaFind.select("_id").collect().map(_.getInt(0)).sorted
        .toSeq == Seq(3, 5))
      // aggregate + count + distinct see through it
      assert(cmd(srv, "count" -> JString("a_items"))("n") == JLong(3L))
      assert(cmd(srv, "distinct" -> JString("a_items"),
        "key" -> JString("n"))("values") ==
        JArray(List(JLong(10L), JLong(30L), JLong(50L))))
      // a view OVER the view (chaining)
      cmd(srv, "create" -> JString("big_a"),
        "viewOn" -> JString("a_items"),
        "pipeline" -> JArray(List(JObject(List("$match" ->
          JObject(List("n" -> JObject(List("$gte" -> JInt(30)))))))))): Unit
      assert(cmd(srv, "count" -> JString("big_a"))("n") == JLong(2L))
      // listCollections reports the views with their definitions
      val listed = cmd(srv, "listCollections" -> JInt(1))("cursor")
        .asInstanceOf[JObject].obj.toMap.apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
        case other => fail(s"bad firstBatch $other")
      }
      val views = listed.filter(_("type") == JString("view"))
      assert(views.map(_("name")).toSet ==
        Set(JString("a_items"), JString("big_a")))
      // writes refuse naming the view
      val e = intercept[IllegalArgumentException] {
        OpMsg.update("127.0.0.1", srv.port, "graft", "a_items", Seq(
          OpMsg.UpdateSpec("""{}""", """{"$set": {"n": 0}}""",
            multi = true)))
      }
      assert(e.getMessage.contains("read-only"), e.getMessage)
      // name collisions + plain create refuse
      intercept[IllegalArgumentException](cmd(srv,
        "create" -> JString("items"), "viewOn" -> JString("aux")))
      val p = intercept[IllegalArgumentException](
        cmd(srv, "create" -> JString("plain")))
      assert(p.getMessage.contains("fixed-schema"), p.getMessage)
      // drop removes the view, not the base
      assert(cmd(srv, "drop" -> JString("big_a"))("ok") == JDouble(1.0))
      assert(store.exists("items") && !store.isView("big_a"))
    } finally srv.stop()
  }

  test("find options over the wire: sort orders the cursor, skip " +
       "offsets, exclusion projection drops columns (mixing refuses); " +
       "aggregate honors the command-level let") {
    val (_, srv) = fixture()
    try {
      def findCmd(doc: (String, JValue)*): List[Map[String, JValue]] = {
        val reply = cmd(srv,
          (Seq("find" -> (JString("items"): JValue)) ++ doc): _*)
        reply("cursor").asInstanceOf[JObject].obj.toMap
          .apply("firstBatch") match {
          case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
          case other => fail(s"bad firstBatch $other")
        }
      }
      // sort desc + skip + limit compose mongod-style
      val page = findCmd("sort" -> JObject(List("n" -> JInt(-1))),
        "skip" -> JInt(1), "limit" -> JInt(2))
      assert(page.map(_("_id")) == List(JInt(4), JInt(3)))
      // exclusion projection drops the named columns, keeps the rest
      val excl = findCmd("projection" -> JObject(List(
        "tags" -> JInt(0), "kind" -> JInt(0))),
        "sort" -> JObject(List("_id" -> JInt(1))), "limit" -> JInt(1))
      assert(excl.head.keySet == Set("_id", "n"))
      // mixing include and exclude refuses (the _id exception aside)
      intercept[IllegalArgumentException](findCmd(
        "projection" -> JObject(List("kind" -> JInt(1), "n" -> JInt(0)))))
      // aggregate let: $$minQty resolves inside $match's $expr
      val agg = cmd(srv, "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(
          JObject(List("$match" -> JObject(List("$expr" -> JObject(List(
            "$gte" -> JArray(List(JString("$n"), JString("$$minQty"))))))))),
          JObject(List("$project" -> JObject(List("_id" -> JInt(1))))),
          JObject(List("$sort" -> JObject(List("_id" -> JInt(1))))))),
        "let" -> JObject(List("minQty" -> JInt(30))),
        "cursor" -> JObject(Nil))
      val ids = agg("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("_id"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(ids == List(JInt(3), JInt(4), JInt(5)))
    } finally srv.stop()
  }

  test("per-operation collation on the wire: a strength-2 find filter " +
       "matches case-insensitively and folds the sort; count and " +
       "aggregate $match honor it; numericOrdering sorts digit " +
       "strings numerically (collation-KEY path)") {
    val (_, srv) = fixture()
    try {
      val ci = JObject(List("locale" -> JString("simple"),
        "strength" -> JInt(2)))
      val got = cmd(srv, "find" -> JString("items"),
        "filter" -> JObject(List("kind" -> JString("A"))),
        "collation" -> ci,
        "sort" -> JObject(List("_id" -> JInt(1))))
      val gotIds = got("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("_id"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(gotIds == List(JInt(1), JInt(3), JInt(5)))
      assert(cmd(srv, "count" -> JString("items"),
        "query" -> JObject(List("kind" -> JString("B"))),
        "collation" -> ci)("n") == JLong(1L))
      val agg = cmd(srv, "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(
          JObject(List("$match" -> JObject(List(
            "kind" -> JString("C"))))),
          JObject(List("$project" -> JObject(List("_id" -> JInt(1))))))),
        "collation" -> ci, "cursor" -> JObject(Nil))
      val aggIds = agg("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("_id"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(aggIds == List(JInt(4)))
      // numericOrdering: "2" < "9" < "10" under the collation KEY
      cmd(srv, "insert" -> JString("nums"),
        "documents" -> JArray(List(
          JObject(List("_id" -> JInt(1), "s" -> JString("9"))),
          JObject(List("_id" -> JInt(2), "s" -> JString("10"))),
          JObject(List("_id" -> JInt(3), "s" -> JString("2"))))))
      val numSorted = cmd(srv, "find" -> JString("nums"),
        "sort" -> JObject(List("s" -> JInt(1))),
        "collation" -> JObject(List("locale" -> JString("simple"),
          "numericOrdering" -> JBool(true))))
      val order = numSorted("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("s"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(order == List(JString("2"), JString("9"), JString("10")))
    } finally srv.stop()
  }

  test("monitoring surface: collStats/dbStats answer real counts and " +
       "byte sizes, serverStatus ticks live opcounters and connection " +
       "gauges, $collStats/$indexStats stages serve store metadata, " +
       "and a getMore can resize the cursor's batches") {
    val (store, srv) = fixture()
    try {
      val cs = cmd(srv, "collStats" -> JString("items"))
      assert(cs("count") == JLong(5L))
      assert(cs("capped") == JBool(false))
      assert(cs("size").asInstanceOf[JLong].num > 0)
      assert(cs("nindexes") == JInt(1))
      intercept[IllegalArgumentException](
        cmd(srv, "collStats" -> JString("nope")))
      val ds = cmd(srv, "dbStats" -> JInt(1))
      assert(ds("collections") == JInt(2) && ds("objects") == JLong(6L))
      // serverStatus: the find below must tick opcounters.query, and
      // each one-shot command connection counts as created
      val before = cmd(srv, "serverStatus" -> JInt(1))
      cmd(srv, "find" -> JString("items"), "batchSize" -> JInt(1000))
      val after = cmd(srv, "serverStatus" -> JInt(1))
      def q(r: Map[String, JValue]): BigInt =
        r("opcounters").asInstanceOf[JObject].obj.toMap
          .apply("query").asInstanceOf[JLong].num
      assert(q(after) == q(before) + 1)
      assert(after("connections").asInstanceOf[JObject].obj.toMap
        .apply("totalCreated").asInstanceOf[JLong].num >= 3)
      // $collStats / $indexStats stages
      val cstage = cmd(srv, "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(JObject(List("$collStats" ->
          JObject(List("count" -> JObject(Nil),
            "storageStats" -> JObject(Nil))))))),
        "cursor" -> JObject(Nil))
      val cdoc = cstage("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch").asInstanceOf[JArray].arr.head
        .asInstanceOf[JObject].obj.toMap
      assert(cdoc("count") == JLong(5L))
      assert(cdoc("storageStats").asInstanceOf[JObject].obj.toMap
        .apply("size").asInstanceOf[JLong].num > 0)
      store.setUniqueKey("items", "_id")
      val istage = cmd(srv, "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(JObject(List(
          "$indexStats" -> JObject(Nil))))),
        "cursor" -> JObject(Nil))
      val inames = istage("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JObject].obj.toMap.apply("name"))
      assert(inames == List(JString("_id_"), JString("_id_1")))
      // getMore batchSize resize: 2 + 3 across two pulls
      val open = cmd(srv, "find" -> JString("items"),
        "sort" -> JObject(List("_id" -> JInt(1))),
        "batchSize" -> JInt(2))
      val cur = open("cursor").asInstanceOf[JObject].obj.toMap
      assert(cur("firstBatch").asInstanceOf[JArray].arr.size == 2)
      val id = cur("id").asInstanceOf[JLong].num.toLong
      assert(id != 0L)
      val more = cmd(srv, "getMore" -> JLong(id),
        "collection" -> JString("items"), "batchSize" -> JInt(100))
      assert(more("cursor").asInstanceOf[JObject].obj.toMap
        .apply("nextBatch").asInstanceOf[JArray].arr.size == 3)
    } finally srv.stop()
  }

  test("db-level aggregate (aggregate: 1) with a $documents first " +
       "stage runs the literal table through the full pipeline") {
    val (_, srv) = fixture()
    try {
      val reply = cmd(srv, "aggregate" -> JInt(1),
        "pipeline" -> JArray(List(
          JObject(List("$documents" -> JArray(List(
            JObject(List("x" -> JInt(3))),
            JObject(List("x" -> JInt(1))),
            JObject(List("x" -> JInt(2))))))),
          JObject(List("$match" -> JObject(List("x" -> JObject(List(
            "$gte" -> JInt(2))))))),
          JObject(List("$sort" -> JObject(List("x" -> JInt(1))))))),
        "cursor" -> JObject(Nil))
      val xs = reply("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("x"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(xs == List(JInt(2), JInt(3)))
      val e = intercept[IllegalArgumentException](cmd(srv,
        "aggregate" -> JInt(1),
        "pipeline" -> JArray(List(JObject(List(
          "$match" -> JObject(Nil))))),
        "cursor" -> JObject(Nil)))
      assert(e.getMessage.contains("$documents"))
    } finally srv.stop()
  }

  test("replica-set hello + cluster-time gossip: hello advertises a " +
       "single-member set (drivers gate sessions/transactions on " +
       "setName + primary), every reply carries operationTime and " +
       "$clusterTime, and writes advance the logical clock") {
    val (_, srv) = fixture()
    try {
      val conn = new java.net.Socket("127.0.0.1", srv.port)
      try {
        val out = new java.io.BufferedOutputStream(conn.getOutputStream)
        OpMsg.writeFrame(out, 1, 0, OpMsg.encodeDoc(JObject(List(
          "hello" -> JInt(1), "$db" -> JString("graft")))),
          flags = 0, compress = false)
        val (_, _, body) = OpMsg.readMessage(
          new java.io.BufferedInputStream(conn.getInputStream)).get
        val hello = OpMsg.decodeDoc(body).obj.toMap
        assert(hello("setName") == JString("graft"))
        assert(hello("isWritablePrimary") == JBool(true))
        val me = hello("me").asInstanceOf[JString].s
        assert(hello("hosts") == JArray(List(JString(me))) &&
          hello("primary") == JString(me))
        assert(hello("logicalSessionTimeoutMinutes") == JInt(30))
      } finally conn.close()
      def gossiped(r: Map[String, JValue]): Boolean =
        r.contains("operationTime") && r.contains("$clusterTime")
      // exhaust replies gossip too: every frame of a moreToCome stream,
      // and the refusal of an exhaust getMore on an unknown cursor
      val ex = new java.net.Socket("127.0.0.1", srv.port)
      try {
        val in = new java.io.BufferedInputStream(ex.getInputStream)
        val out = new java.io.BufferedOutputStream(ex.getOutputStream)
        def send(rid: Int, flags: Int, doc: (String, JValue)*): Unit =
          OpMsg.writeFrame(out, rid, 0, OpMsg.encodeDoc(JObject(
            doc.toList :+ ("$db" -> JString("graft")))), flags, compress = false)
        send(1, 0, "find" -> JString("items"), "batchSize" -> JInt(1))
        val (id, _) = OpMsg.parseCursorReply(OpMsg.readFrame(in).get.doc)
        assert(id != 0L)
        send(2, 0x10000, "getMore" -> JLong(id),
          "collection" -> JString("items"), "batchSize" -> JInt(1))
        var stream = Seq(OpMsg.readFrame(in).get)
        while (stream.last.moreToCome) stream :+= OpMsg.readFrame(in).get
        assert(stream.size == 4) // 5 items, 1 in the first batch
        stream.foreach(f =>
          assert(gossiped(OpMsg.decodeDoc(f.doc).obj.toMap)))
        send(3, 0x10000, "getMore" -> JLong(424242L),
          "collection" -> JString("items"))
        val refused = OpMsg.readFrame(in).get
        assert(refused.responseTo == 3 && !refused.moreToCome)
        val r = OpMsg.decodeDoc(refused.doc).obj.toMap
        assert(r("ok") == JDouble(0.0) && r("code") == JInt(43) && gossiped(r))
      } finally ex.close()
      def packed(r: Map[String, JValue]): Long = {
        val ts = r("operationTime").asInstanceOf[JObject].obj.toMap
          .apply("$timestamp").asInstanceOf[JObject].obj.toMap
        (ts("t").asInstanceOf[JLong].num << 32) |
          ts("i").asInstanceOf[JLong].num
      }
      val p1 = cmd(srv, "ping" -> JInt(1))
      val ct = p1("$clusterTime").asInstanceOf[JObject].obj.toMap
      assert(ct.contains("clusterTime") &&
        ct("signature").asInstanceOf[JObject].obj.toMap
          .apply("keyId") == JLong(0L))
      val t1 = packed(p1)
      cmd(srv, "insert" -> JString("items"),
        "documents" -> JArray(List(JObject(List("_id" -> JInt(99),
          "kind" -> JString("z"), "n" -> JLong(0L))))))
      val t2 = packed(cmd(srv, "ping" -> JInt(1)))
      assert(t2 > t1, s"write must advance the cluster clock ($t1 -> $t2)")
    } finally srv.stop()
  }

  test("mongosh connect chatter: whatsmyuri answers the client's real " +
       "address, connectionStatus the authenticated user, getParameter " +
       "real values (named and * forms), getLog an empty log") {
    val (_, srv) = fixture()
    try {
      val you = cmd(srv, "whatsmyuri" -> JInt(1))("you")
        .asInstanceOf[JString].s
      assert(you.startsWith("127.0.0.1:"))
      val cs = cmd(srv, "connectionStatus" -> JInt(1))("authInfo")
        .asInstanceOf[JObject].obj.toMap
      assert(cs("authenticatedUsers") == JArray(Nil)) // no-auth server
      val one = cmd(srv, "getParameter" -> JInt(1),
        "transactionLifetimeLimitSeconds" -> JInt(1))
      assert(one("transactionLifetimeLimitSeconds") == JLong(60L))
      assert(!one.contains("featureCompatibilityVersion"))
      val all = cmd(srv, "getParameter" -> JString("*"))
      assert(all("featureCompatibilityVersion") == JObject(List(
        "version" -> JString("7.0"))))
      intercept[IllegalArgumentException](
        cmd(srv, "getParameter" -> JInt(1), "noSuchParam" -> JInt(1)))
      assert(cmd(srv, "getLog" -> JString("global"))("log") == JArray(Nil))
    } finally srv.stop()
  }

  test("currentOp (command and $currentOp stage) lists live state: an " +
       "open cursor with its ns and a running transaction with its " +
       "touched collections") {
    val (_, srv) = fixture()
    try {
      val open = cmd(srv, "find" -> JString("items"),
        "batchSize" -> JInt(2))
      val cursorId = open("cursor").asInstanceOf[JObject].obj.toMap
        .apply("id").asInstanceOf[JLong].num.toLong
      assert(cursorId != 0L)
      OpMsg.command("127.0.0.1", srv.port, "graft", JObject(List(
        "find" -> JString("items"),
        "startTransaction" -> JBool(true),
        "autocommit" -> JBool(false))),
        session = Some(("op-sess", 5L)))
      val inprog = cmd(srv, "currentOp" -> JInt(1))("inprog") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
        case other => fail(s"bad inprog $other")
      }
      val cur = inprog.find(_.get("type").contains(JString("idleCursor")))
        .getOrElse(fail("no cursor op"))
      assert(cur("cursorId") == JLong(cursorId) &&
        cur("ns") == JString("graft.items"))
      val txn = inprog.find(_.get("type").contains(JString("transaction")))
        .getOrElse(fail("no transaction op"))
      assert(txn("txnNumber") == JLong(5L) &&
        txn("collections") == JArray(List(JString("items"))))
      // the $currentOp stage serves the same documents
      val staged = cmd(srv, "aggregate" -> JInt(1),
        "pipeline" -> JArray(List(JObject(List(
          "$currentOp" -> JObject(Nil))))),
        "cursor" -> JObject(Nil))
      val types = staged("cursor").asInstanceOf[JObject].obj.toMap
        .apply("firstBatch") match {
        case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap
          .apply("type"))
        case other => fail(s"bad firstBatch $other")
      }
      assert(types.contains(JString("idleCursor")) &&
        types.contains(JString("transaction")))
    } finally srv.stop()
  }

  test("count: query + skip subtracts + limit caps (0 = unlimited)") {
    val (_, srv) = fixture()
    try {
      def n(doc: (String, JValue)*): JValue =
        cmd(srv, (Seq("count" -> (JString("items"): JValue)) ++ doc): _*)("n")
      assert(n() == JLong(5L))
      assert(n("query" -> JObject(List("kind" -> JString("a")))) == JLong(3L))
      assert(n("skip" -> JInt(2)) == JLong(3L))
      assert(n("skip" -> JInt(9)) == JLong(0L))
      assert(n("limit" -> JInt(2)) == JLong(2L))
      assert(n("limit" -> JInt(0)) == JLong(5L))
      assert(n("query" -> JObject(List("kind" -> JString("a"))),
        "skip" -> JInt(1), "limit" -> JInt(1)) == JLong(1L))
      // a missing collection counts zero (mongod's shape)
      assert(cmd(srv, "count" -> JString("nope"))("n") == JLong(0L))
    } finally srv.stop()
  }
}
