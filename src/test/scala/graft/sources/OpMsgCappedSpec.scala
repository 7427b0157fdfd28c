package graft.sources

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Capped collections + tailable cursors over OP_MSG — mongod's FIFO
  * collections (`create` with capped:true, max/size budgets, oldest
  * docs evicted on overflow) and the oplog-follow cursor shape
  * (tailable find in natural order, getMore long-polls appends,
  * CappedPositionLost when the eviction frontier overtakes a slow
  * tailer). Eviction is O(overflow): whole head files drop, at most
  * one straddling head file rewrites. */
class OpMsgCappedSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_cap").toString,
      "graftdocs")
    (store, new OpMsg.Server(spark, store))
  }

  private def cmd(srv: OpMsg.Server, doc: (String, JValue)*)
      : Map[String, JValue] =
    OpMsg.command("127.0.0.1", srv.port, "graft", JObject(doc.toList))

  private def insertRange(srv: OpMsg.Server, coll: String,
                          from: Int, to: Int): Unit =
    cmd(srv, "insert" -> JString(coll),
      "documents" -> JArray((from to to).toList.map(i => JObject(List(
        "_id" -> JInt(i), "n" -> JLong(i.toLong * 10)))))): Unit

  private def batch(reply: Map[String, JValue])
      : List[Map[String, JValue]] =
    reply("cursor").asInstanceOf[JObject].obj.toMap
      .apply("firstBatch") match {
      case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
      case other => fail(s"bad firstBatch $other")
    }

  private def nextBatch(reply: Map[String, JValue])
      : (Long, List[Map[String, JValue]]) = {
    val cur = reply("cursor").asInstanceOf[JObject].obj.toMap
    val id = cur("id") match {
      case JLong(l) => l; case JInt(i) => i.toLong
      case other => fail(s"bad id $other")
    }
    cur.get("nextBatch").orElse(cur.get("firstBatch")) match {
      case Some(JArray(ds)) =>
        (id, ds.map(_.asInstanceOf[JObject].obj.toMap))
      case other => fail(s"bad batch $other")
    }
  }

  private def ids(ds: List[Map[String, JValue]]): List[BigInt] =
    ds.map(_("_id").asInstanceOf[JInt].num)

  test("cap enforcement is exact for the doc budget: whole head files " +
       "drop, the straddling file rewrites without its evicted head; " +
       "listCollections reports the capped options; the declaration " +
       "dies with a drop") {
    val (store, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("cap"), "capped" -> JBool(true),
        "max" -> JInt(20))
      // declared-but-empty capped collections list with their options
      val listed0 = batch(cmd(srv, "listCollections" -> JInt(1)))
        .map(d => (d("name"), d("options"))).toMap
      assert(listed0(JString("cap")) == JObject(List(
        "capped" -> JBool(true), "max" -> JLong(20L))))
      // 12 + 12 + 6 docs: batch 2 partial-evicts 4 from file 1,
      // batch 3 partial-evicts 6 more — survivors are _ids 11..30
      insertRange(srv, "cap", 1, 12)
      insertRange(srv, "cap", 13, 24)
      insertRange(srv, "cap", 25, 30)
      val rows = batch(cmd(srv, "find" -> JString("cap"),
        "sort" -> JObject(List("_id" -> JInt(1))),
        "batchSize" -> JInt(1000)))
      assert(ids(rows) == (11 to 30).map(BigInt(_)).toList)
      // the file layout proves HOW: a rewritten head file plus whole
      // survivors, never a whole-collection rewrite
      val files = store.cappedFiles("cap")
      assert(files.map(_._3) == Seq(2, 12, 6))
      // updates/deletes/rewrites refuse (mongod capped restrictions)
      val e1 = intercept[IllegalArgumentException](cmd(srv,
        "delete" -> JString("cap"),
        "deletes" -> JArray(List(JObject(List(
          "q" -> JObject(Nil), "limit" -> JInt(0)))))))
      assert(e1.getMessage.contains("capped"))
      val e2 = intercept[IllegalArgumentException](cmd(srv,
        "update" -> JString("cap"),
        "updates" -> JArray(List(JObject(List(
          "q" -> JObject(Nil),
          "u" -> JObject(List("$set" -> JObject(List(
            "n" -> JInt(0)))))))))))
      assert(e2.getMessage.contains("capped"))
      // drop removes the declaration: a reborn same-name collection
      // is a plain one (no inherited cap)
      cmd(srv, "drop" -> JString("cap"))
      insertRange(srv, "uncapped_probe", 1, 1) // server stays healthy
      insertRange(srv, "cap", 1, 30)
      assert(batch(cmd(srv, "find" -> JString("cap"),
        "batchSize" -> JInt(1000))).size == 30)
    } finally srv.stop()
  }

  test("byte-size budget evicts whole head files; a plain create " +
       "still refuses; declareCapped over an existing collection " +
       "refuses") {
    val (store, srv) = fixture()
    try {
      // each 10-doc batch is 250 bytes ({_id: int32, n: int64} = 25);
      // a 600-byte budget holds two batches but not three
      cmd(srv, "create" -> JString("sized"), "capped" -> JBool(true),
        "size" -> JInt(600))
      insertRange(srv, "sized", 1, 10)
      val oneBatchBytes = store.cappedFiles("sized").head._4
      assert(oneBatchBytes == 250)
      insertRange(srv, "sized", 11, 20)
      insertRange(srv, "sized", 21, 30)
      val kept = ids(batch(cmd(srv, "find" -> JString("sized"),
        "sort" -> JObject(List("_id" -> JInt(1))),
        "batchSize" -> JInt(1000))))
      assert(kept == (11 to 30).map(BigInt(_)).toList)
      val e1 = intercept[IllegalArgumentException](
        cmd(srv, "create" -> JString("plain")))
      assert(e1.getMessage.contains("capped") &&
        e1.getMessage.contains("first insert"))
      insertRange(srv, "existing", 1, 3)
      val e2 = intercept[Exception](store.declareCapped("existing", 5))
      assert(e2.getMessage.contains("already exists"))
    } finally srv.stop()
  }

  test("tailable cursor: natural order, survives drains, getMore " +
       "serves appends (filter applies per batch), awaitData maxTimeMS " +
       "long-polls, non-capped/sort/transaction forms refuse") {
    val (_, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("tail"), "capped" -> JBool(true),
        "max" -> JInt(100))
      insertRange(srv, "tail", 1, 5)
      // filter rides the tail: only even _ids come back
      val open = cmd(srv, "find" -> JString("tail"),
        "filter" -> JObject(List("_id" -> JObject(List(
          "$mod" -> JArray(List(JInt(2), JInt(0))))))),
        "tailable" -> JBool(true), "awaitData" -> JBool(true),
        "batchSize" -> JInt(1000))
      val (id, first) = nextBatch(open)
      assert(id != 0L && ids(first) == List(BigInt(2), BigInt(4)))
      // drained: an empty getMore keeps the cursor live
      val (id2, empty) = nextBatch(cmd(srv,
        "getMore" -> JLong(id), "collection" -> JString("tail")))
      assert(id2 == id && empty.isEmpty)
      // awaitData: an empty poll with maxTimeMS holds the reply
      val t0 = System.nanoTime()
      val (_, stillEmpty) = nextBatch(cmd(srv,
        "getMore" -> JLong(id), "collection" -> JString("tail"),
        "maxTimeMS" -> JInt(400)))
      assert(stillEmpty.isEmpty &&
        (System.nanoTime() - t0) / 1000000L >= 300)
      // appends flow to the tailer in insertion order
      insertRange(srv, "tail", 6, 9)
      val (_, more) = nextBatch(cmd(srv,
        "getMore" -> JLong(id), "collection" -> JString("tail")))
      assert(ids(more) == List(BigInt(6), BigInt(8)))
      // refusal matrix
      insertRange(srv, "plaincoll", 1, 2)
      val e1 = intercept[IllegalArgumentException](cmd(srv,
        "find" -> JString("plaincoll"), "tailable" -> JBool(true)))
      assert(e1.getMessage.contains("BadValue"))
      val e2 = intercept[IllegalArgumentException](cmd(srv,
        "find" -> JString("tail"), "tailable" -> JBool(true),
        "sort" -> JObject(List("_id" -> JInt(1)))))
      assert(e2.getMessage.contains("natural"))
      val e3 = intercept[IllegalArgumentException](
        OpMsg.command("127.0.0.1", srv.port, "graft", JObject(List(
          "find" -> JString("tail"), "tailable" -> JBool(true),
          "startTransaction" -> JBool(true),
          "autocommit" -> JBool(false))),
          session = Some(("cap-sess", 1L))))
      assert(e3.getMessage.contains("OperationNotSupportedInTransaction"))
    } finally srv.stop()
  }

  test("collMod resizes a capped budget in place: a shrink evicts " +
       "immediately, a grow raises the ceiling; the view form " +
       "redefines viewOn/pipeline; refusals name the supported forms") {
    val (store, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("rsz"), "capped" -> JBool(true),
        "max" -> JInt(50))
      insertRange(srv, "rsz", 1, 30)
      // shrink 50 -> 12: evicts 18 oldest NOW
      cmd(srv, "collMod" -> JString("rsz"), "cappedMax" -> JInt(12))
      assert(ids(batch(cmd(srv, "find" -> JString("rsz"),
        "sort" -> JObject(List("_id" -> JInt(1))),
        "batchSize" -> JInt(1000))))
        == (19 to 30).map(BigInt(_)).toList)
      assert(store.cappedSpec("rsz") == Some((12L, 0L)))
      // grow: the next inserts fill to the new ceiling
      cmd(srv, "collMod" -> JString("rsz"), "cappedMax" -> JInt(20))
      insertRange(srv, "rsz", 31, 38)
      assert(store.read("rsz").count() == 20)
      // view redefinition
      insertRange(srv, "base1", 1, 5)
      insertRange(srv, "base2", 6, 9)
      cmd(srv, "create" -> JString("v"), "viewOn" -> JString("base1"),
        "pipeline" -> JArray(Nil))
      assert(batch(cmd(srv, "find" -> JString("v"),
        "batchSize" -> JInt(100))).size == 5)
      cmd(srv, "collMod" -> JString("v"), "viewOn" -> JString("base2"),
        "pipeline" -> JArray(List(JObject(List("$match" -> JObject(List(
          "_id" -> JObject(List("$gte" -> JInt(8))))))))))
      assert(ids(batch(cmd(srv, "find" -> JString("v"),
        "sort" -> JObject(List("_id" -> JInt(1))),
        "batchSize" -> JInt(100)))) == List(BigInt(8), BigInt(9)))
      val e = intercept[IllegalArgumentException](cmd(srv,
        "collMod" -> JString("base1"), "validator" -> JObject(Nil)))
      assert(e.getMessage.contains("supported forms"))
    } finally srv.stop()
  }

  test("oplog-style streaming: the graftwire offsetKey source tails a " +
       "CAPPED collection — forward micro-batches survive head " +
       "eviction (the Kafka-retention contract: only lagging replays " +
       "into evicted ranges can lose data, reading the tail never " +
       "does)") {
    val (store, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("oplog"), "capped" -> JBool(true),
        "max" -> JInt(15))
      insertRange(srv, "oplog", 1, 10)
      val schema = store.read("oplog").schema
      val sink = s"cap_tail_${System.nanoTime()}"
      val q = spark.readStream.format("graftwire")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("collection", "oplog")
        .option("offsetKey", "_id")
        .schema(schema).load()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 10)
        // two more batches; the second evicts the oldest docs UNDER the
        // running stream — the tail reads forward ranges only, so every
        // appended doc still arrives exactly once
        insertRange(srv, "oplog", 11, 18)
        q.processAllAvailable()
        insertRange(srv, "oplog", 19, 25) // evicts _ids 1..10
        q.processAllAvailable()
        assert(spark.table(sink).count() == 25)
        assert(spark.table(sink).select("_id").distinct().count() == 25)
        // the collection itself holds only the budget...
        assert(store.read("oplog").count() == 15)
        // ...while the stream delivered the full history it tailed
      } finally q.stop()
    } finally srv.stop()
  }

  test("convertToCapped rebuilds an ordinary collection in place " +
       "keeping the newest budget-ful (natural order and tailing work " +
       "after); validate reports real structural checks incl. a " +
       "corrupted capped batch file") {
    val (store, srv) = fixture()
    try {
      insertRange(srv, "conv", 1, 30)
      cmd(srv, "convertToCapped" -> JString("conv"), "max" -> JInt(12))
      assert(ids(batch(cmd(srv, "find" -> JString("conv"),
        "sort" -> JObject(List("$natural" -> JInt(1))),
        "batchSize" -> JInt(1000))))
        == (19 to 30).map(BigInt(_)).toList)
      // the rebuilt collection caps like any insert-built one
      insertRange(srv, "conv", 31, 34)
      assert(ids(batch(cmd(srv, "find" -> JString("conv"),
        "sort" -> JObject(List("$natural" -> JInt(1))),
        "batchSize" -> JInt(1000))))
        == (23 to 34).map(BigInt(_)).toList)
      // listCollections reflects the new shape
      val opts = batch(cmd(srv, "listCollections" -> JInt(1)))
        .map(d => (d("name"), d("options"))).toMap
      assert(opts(JString("conv")) == JObject(List(
        "capped" -> JBool(true), "max" -> JLong(12L))))
      // validate: green on the healthy collection...
      val ok = cmd(srv, "validate" -> JString("conv"))
      assert(ok("valid") == JBool(true) &&
        ok("errors") == JArray(Nil))
      // ...red with the exact complaint when a batch file lies about
      // its count (truncate one doc off the end)
      val files = store.cappedFiles("conv")
      val victim = new org.apache.hadoop.fs.Path(
        store.path("conv"), files.last._1)
      val fs = victim.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val bytes = {
        val in = fs.open(victim)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](1 << 16)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toByteArray
        } finally in.close()
      }
      val lastLen = java.nio.ByteBuffer
        .wrap(bytes, bytes.length - 25, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(lastLen == 25) // {_id: int32, n: int64}
      val out = fs.create(victim, true)
      try out.write(bytes, 0, bytes.length - 25) finally out.close()
      val bad = cmd(srv, "validate" -> JString("conv"))
      assert(bad("valid") == JBool(false))
      assert(bad("errors").asInstanceOf[JArray].arr.exists {
        case JString(m) => m.contains("declares") && m.contains("parses")
        case _ => false
      })
      // refusal matrix
      val e1 = intercept[IllegalArgumentException](cmd(srv,
        "convertToCapped" -> JString("conv"), "max" -> JInt(5)))
      assert(e1.getMessage.contains("already capped"))
      val e2 = intercept[IllegalArgumentException](cmd(srv,
        "convertToCapped" -> JString("ghost"), "max" -> JInt(5)))
      assert(e2.getMessage.contains("no collection"))
    } finally srv.stop()
  }

  test("$natural sort: exact insertion order both directions on a " +
       "capped collection (filter/skip/limit slice the ordered tail), " +
       "+1 degrades to scan order on ordinary collections, -1 refuses " +
       "there; tailable accepts {$natural: 1}") {
    val (_, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("nat"), "capped" -> JBool(true),
        "max" -> JInt(100))
      insertRange(srv, "nat", 1, 6)
      insertRange(srv, "nat", 7, 9)
      val desc = ids(batch(cmd(srv, "find" -> JString("nat"),
        "sort" -> JObject(List("$natural" -> JInt(-1))),
        "batchSize" -> JInt(1000))))
      assert(desc == (9 to 1 by -1).map(BigInt(_)).toList)
      // mongosh's "last 3, newest first" idiom
      val last3 = ids(batch(cmd(srv, "find" -> JString("nat"),
        "sort" -> JObject(List("$natural" -> JInt(-1))),
        "limit" -> JInt(3))))
      assert(last3 == List(BigInt(9), BigInt(8), BigInt(7)))
      // filter + skip compose over the natural order
      val evens = ids(batch(cmd(srv, "find" -> JString("nat"),
        "filter" -> JObject(List("_id" -> JObject(List(
          "$mod" -> JArray(List(JInt(2), JInt(0))))))),
        "sort" -> JObject(List("$natural" -> JInt(1))),
        "skip" -> JInt(1), "batchSize" -> JInt(1000))))
      assert(evens == List(BigInt(4), BigInt(6), BigInt(8)))
      // ordinary collections: +1 is scan order (rows come back), -1
      // refuses instead of faking a reverse
      insertRange(srv, "plain_nat", 1, 4)
      assert(batch(cmd(srv, "find" -> JString("plain_nat"),
        "sort" -> JObject(List("$natural" -> JInt(1))),
        "batchSize" -> JInt(1000))).size == 4)
      val e = intercept[IllegalArgumentException](cmd(srv,
        "find" -> JString("plain_nat"),
        "sort" -> JObject(List("$natural" -> JInt(-1)))))
      assert(e.getMessage.contains("capped"))
      // tailable + {$natural: 1} (the explicit spelling of its only
      // order) opens fine
      val (tid, tfirst) = nextBatch(cmd(srv, "find" -> JString("nat"),
        "tailable" -> JBool(true),
        "sort" -> JObject(List("$natural" -> JInt(1))),
        "batchSize" -> JInt(1000)))
      assert(tid != 0L && ids(tfirst) == (1 to 9).map(BigInt(_)).toList)
    } finally srv.stop()
  }

  test("CappedPositionLost: a tailer whose position file was evicted " +
       "under it dies with code 136; a fully-consumed evicted file is " +
       "NOT a loss (the cursor resumes at the next surviving file); a " +
       "tailable cursor on a declared-but-empty capped collection " +
       "resolves its schema at the first insert") {
    val (_, srv) = fixture()
    try {
      cmd(srv, "create" -> JString("ring"), "capped" -> JBool(true),
        "max" -> JInt(10))
      insertRange(srv, "ring", 1, 10)
      // slow tailer: only 4 of 10 consumed, then the whole file evicts
      val (slowId, got4) = nextBatch(cmd(srv,
        "find" -> JString("ring"), "tailable" -> JBool(true),
        "batchSize" -> JInt(4)))
      assert(ids(got4) == List(BigInt(1), BigInt(2), BigInt(3), BigInt(4)))
      // fast tailer: fully drained before the eviction
      val (fastId, all10) = nextBatch(cmd(srv,
        "find" -> JString("ring"), "tailable" -> JBool(true),
        "batchSize" -> JInt(1000)))
      assert(all10.size == 10)
      insertRange(srv, "ring", 11, 20) // evicts the first file whole
      val eLost = intercept[IllegalArgumentException](cmd(srv,
        "getMore" -> JLong(slowId), "collection" -> JString("ring")))
      assert(eLost.getMessage.contains("CappedPositionLost"))
      // the killed cursor is gone (CursorNotFound on reuse)
      val eGone = intercept[IllegalArgumentException](cmd(srv,
        "getMore" -> JLong(slowId), "collection" -> JString("ring")))
      assert(eGone.getMessage.contains("not found"))
      // the fast tailer resumes cleanly past its fully-consumed file
      val (_, fresh) = nextBatch(cmd(srv,
        "getMore" -> JLong(fastId), "collection" -> JString("ring")))
      assert(ids(fresh) == (11 to 20).map(BigInt(_)).toList)
      // empty-at-open: schema resolves at the first insert it sees
      cmd(srv, "create" -> JString("later"), "capped" -> JBool(true),
        "max" -> JInt(50))
      val (lid, none) = nextBatch(cmd(srv,
        "find" -> JString("later"), "tailable" -> JBool(true)))
      assert(none.isEmpty && lid != 0L)
      insertRange(srv, "later", 1, 3)
      val (_, three) = nextBatch(cmd(srv,
        "getMore" -> JLong(lid), "collection" -> JString("later")))
      assert(ids(three) == List(BigInt(1), BigInt(2), BigInt(3)))
    } finally srv.stop()
  }
}
