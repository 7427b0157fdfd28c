package graft.sources

import org.apache.spark.sql.functions._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** `$changeStream` over OP_MSG: the wire twin of `Db.watchOps` — a
  * tailable cursor over the versioned store's change history, resume
  * tokens from (txnVersion, documentKey) offsets, `resumeAfter`
  * re-entry with no loss or duplication, and the refusal matrix
  * (mid-pipeline stage, token-dropping projection, exhaust). */
class OpMsgWatchSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Versioned history: v1 = ids < 40; current = ids 20..49 with
    * n_chars bumped on even ids → deletes (0..19), updates (evens in
    * 20..39), inserts (40..49). */
  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_watch_srv").toString)
    val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select("doc_id", "source", "n_chars")
    store.writeVersioned(docs.where(col("doc_id") < 40), "coll"): Unit
    store.writeVersioned(
      docs.where(col("doc_id") >= 20 && col("doc_id") < 50)
        .withColumn("n_chars",
          when(col("doc_id") % 2 === 0, col("n_chars") + 1)
            .otherwise(col("n_chars"))),
      "coll"): Unit
    (store, new OpMsg.Server(spark, store))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("operationType"), col("documentKey").cast("long"),
        col("fullDocument.n_chars").cast("long").as("after_chars"),
        array_join(col("updatedFields"), ",").as("updated"),
        col("txnVersion").cast("long").as("v"))
      .orderBy("documentKey", "operationType")
      .collect().toSeq.map(_.json)

  test("wire watch ≡ local changeEvents on the same history; tokens " +
       "are ordered and the batch loop pages through them") {
    val (store, server) = fixture()
    try {
      val (wire, token) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", batchSize = 7)
      val local = store.changeEvents("coll", "doc_id")
      assert(canon(wire) == canon(local))
      assert(wire.count() > 7, "fixture too small to exercise getMore")
      // the final postBatchResumeToken is the LAST event's token
      val lastTok = wire.select(col("_id._data")).orderBy(col("_id._data"))
        .collect().map(_.getString(0)).last
      assert(token == lastTok)
      // caught-up watch killed its cursor
      assert(server.openCursors == 0)
    } finally server.stop()
  }

  test("resumeAfter: a mid-stream kill + resume replays the remainder " +
       "with no loss and no duplication; new history tails in") {
    val (store, server) = fixture()
    try {
      val (all, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id")
      val tokens = all.select(col("_id._data")).orderBy(col("_id._data"))
        .collect().map(_.getString(0)).toSeq
      // "kill mid-stream": pretend the driver persisted token #10 and
      // died; resume must yield EXACTLY the events after it
      val mid = tokens(10)
      val (resumed, resumedTok) = OpMsg.watch(spark, "127.0.0.1",
        server.port, "graft", "coll", keyField = "doc_id",
        resumeAfter = Some(mid), batchSize = 5)
      assert(resumed.count() == tokens.size - 11)
      assert(resumed.select(col("_id._data")).orderBy(col("_id._data"))
        .collect().map(_.getString(0)).toSeq == tokens.drop(11))
      // new history after the resume point tails in on the next watch
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
          "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") >= 30 &&
        col("doc_id") < 55), "coll"): Unit
      val (next, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id",
        resumeAfter = Some(resumedTok))
      assert(next.count() > 0)
      // no event at or before the resume token leaks through
      assert(next.where(col("_id._data") <= resumedTok).count() == 0)
      // and the union of the two segments is loss- and dup-free: it
      // equals a fresh full replay of the entire retained history
      val (full, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id")
      val seg = all.select(col("_id._data"))
        .union(next.select(col("_id._data")))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(seg == full.select(col("_id._data"))
        .collect().map(_.getString(0)).sorted.toSeq)
    } finally server.stop()
  }

  test("the rest of the pipeline applies to change documents; dropping " +
       "the _id token refuses (mongod parity)") {
    val (_, server) = fixture()
    try {
      val (upd, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll",
        """[{"$match": {"operationType": "update"}}]""",
        keyField = "doc_id")
      assert(upd.count() > 0)
      assert(upd.select("operationType").distinct()
        .collect().map(_.getString(0)).toSeq == Seq("update"))
      val e = intercept[IllegalArgumentException] {
        OpMsg.watch(spark, "127.0.0.1", server.port, "graft", "coll",
          """[{"$project": {"operationType": 1, "_id": 0}}]""",
          keyField = "doc_id")
      }
      assert(e.getMessage.contains("resume"))
    } finally server.stop()
  }

  test("startAtOperationTime: wall-clock maps to version offsets — " +
       "steps committed before the time are skipped, later ones replay") {
    val (store, server) = fixture() // v1 retired already (txn-2 events)
    try {
      Thread.sleep(30)
      val mid = System.currentTimeMillis()
      Thread.sleep(30)
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 35), "coll"): Unit
      def watchFrom(t: Long) = {
        val conn = new java.net.Socket("127.0.0.1", server.port)
        try {
          val in = new java.io.BufferedInputStream(conn.getInputStream)
          OpMsg.writeFrame(conn.getOutputStream, 1, 0, OpMsg.encodeDoc(
            JObject(List("aggregate" -> JString("coll"),
              "pipeline" -> JArray(List(JObject(List("$changeStream" ->
                JObject(List("keyField" -> JString("doc_id"),
                  "startAtOperationTime" -> JLong(t))))))),
              "cursor" -> JObject(List("batchSize" -> JInt(500))),
              "$db" -> JString("graft")))), flags = 0, compress = false)
          val (_, _, body) = OpMsg.readMessage(in).get
          val (id, batch) = OpMsg.parseCursorReply(body)
          OpMsg.writeFrame(conn.getOutputStream, 2, 0, OpMsg.encodeDoc(
            JObject(List("killCursors" -> JString("coll"),
              "cursors" -> JArray(List(JLong(id))),
              "$db" -> JString("graft")))), flags = 0, compress = false)
          OpMsg.readMessage(in): Unit
          batch
        } finally conn.close()
      }
      // from epoch 0: both steps replay (txn 2 and txn 3 events)
      val all = watchFrom(0L)
      // from mid: ONLY the step retired after mid (txn 3)
      val late = watchFrom(mid)
      assert(all.size > late.size && late.nonEmpty,
        s"all=${all.size} late=${late.size}")
      // from far future: nothing yet
      assert(watchFrom(System.currentTimeMillis() + 3600000L).isEmpty)
      // refusals: combining with resumeAfter; db-level watches
      def openWith(agg: JValue, opts: List[(String, JValue)]): String = {
        val conn2 = new java.net.Socket("127.0.0.1", server.port)
        try {
          OpMsg.writeFrame(conn2.getOutputStream, 1, 0, OpMsg.encodeDoc(
            JObject(List("aggregate" -> agg,
              "pipeline" -> JArray(List(JObject(List("$changeStream" ->
                JObject(opts))))),
              "cursor" -> JObject(Nil),
              "$db" -> JString("graft")))), flags = 0, compress = false)
          val (_, _, body) = OpMsg.readMessage(
            new java.io.BufferedInputStream(conn2.getInputStream)).get
          intercept[IllegalArgumentException](
            OpMsg.parseCursorReply(body)).getMessage
        } finally conn2.close()
      }
      assert(openWith(JString("coll"), List(
        "keyField" -> JString("doc_id"),
        "startAtOperationTime" -> JLong(5L),
        "resumeAfter" -> JObject(List("_data" -> JString("z")))))
        .contains("cannot combine"))
      assert(openWith(JInt(1), List(
        "keyField" -> JString("doc_id"),
        "startAtOperationTime" -> JLong(5L)))
        .contains("db-level"))
    } finally server.stop()
  }

  test("db-level watch (aggregate: 1): events from every versioned " +
       "collection with ns.coll distinguishing; resume spans them") {
    val (store, server) = fixture() // "coll" has history already
    try {
      // a second versioned collection with its own history
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") >= 400), "other"): Unit
      store.writeVersioned(docs.where(col("doc_id") >= 450), "other"): Unit
      val (all, tok) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id", batchSize = 64)
      val colls = all.select(col("ns.coll")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(colls == Set("coll", "other"))
      // per-collection slices equal the single-collection watches
      def slice(c: String) = all.where(col("ns.coll") === c)
        .select(col("operationType"), col("documentKey").cast("long"))
        .orderBy("documentKey", "operationType").collect().map(_.json).toSeq
      def single(c: String) = {
        val (w, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
          "graft", c, keyField = "doc_id")
        w.select(col("operationType"), col("documentKey").cast("long"))
          .orderBy("documentKey", "operationType").collect().map(_.json).toSeq
      }
      assert(slice("coll") == single("coll"))
      assert(slice("other") == single("other"))
      // resume from the final token: quiet until NEW history in EITHER
      val (quiet, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id", resumeAfter = Some(tok))
      assert(quiet.count() == 0)
      store.writeVersioned(docs.where(col("doc_id") >= 440), "other"): Unit
      val (next, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id", resumeAfter = Some(tok))
      assert(next.count() > 0)
      assert(next.select(col("ns.coll")).distinct()
        .collect().map(_.getString(0)).toSeq == Seq("other"))
      // a plain aggregate: 1 without $changeStream refuses
      val e = intercept[IllegalArgumentException] {
        OpMsg.aggregate(spark, "127.0.0.1", server.port, "graft",
          "nope_agg1", """[{"$match": {}}]""")
      }
      // (string-named aggregate on a missing collection fails its own
      // way; the aggregate:1 refusal is pinned over a raw socket)
      assert(e != null)
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        OpMsg.writeFrame(conn.getOutputStream, 1, 0, OpMsg.encodeDoc(
          JObject(List("aggregate" -> JInt(1),
            "pipeline" -> JArray(List(JObject(List("$match" -> JObject(Nil))))),
            "$db" -> JString("graft")))), flags = 0, compress = false)
        val (_, _, body) = OpMsg.readMessage(
          new java.io.BufferedInputStream(conn.getInputStream)).get
        assert(intercept[IllegalArgumentException](
          OpMsg.parseCursorReply(body))
          .getMessage.contains("$changeStream or $documents first stage"))
      } finally conn.close()
    } finally server.stop()
  }

  test("awaitData long-poll: a getMore with maxTimeMS holds the reply " +
       "until new events arrive, returning early WITH the data") {
    val (store, server) = fixture()
    val conn = new java.net.Socket("127.0.0.1", server.port)
    try {
      val in = new java.io.BufferedInputStream(conn.getInputStream, 1 << 16)
      val out = new java.io.BufferedOutputStream(conn.getOutputStream, 1 << 16)
      var rid = 0
      def roundTrip(cmd: JObject): Array[Byte] = {
        rid += 1
        OpMsg.writeFrame(out, rid, 0, OpMsg.encodeDoc(cmd), flags = 0,
          compress = false)
        OpMsg.readMessage(in).get._3
      }
      val open = roundTrip(JObject(List(
        "aggregate" -> JString("coll"),
        "pipeline" -> JArray(List(JObject(List("$changeStream" ->
          JObject(List("keyField" -> JString("doc_id"))))))),
        "cursor" -> JObject(List("batchSize" -> JInt(500))),
        "$db" -> JString("graft"))))
      val (id, first) = OpMsg.parseCursorReply(open)
      assert(first.nonEmpty) // history drained by the big first batch
      // a writer lands new history ~400 ms into the await window
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      val writer = new Thread(() => {
        Thread.sleep(400)
        store.writeVersioned(docs.where(col("doc_id") < 42), "coll"): Unit
      })
      writer.start()
      val t0 = System.nanoTime()
      val reply = roundTrip(JObject(List(
        "getMore" -> JLong(id), "collection" -> JString("coll"),
        "batchSize" -> JInt(500), "maxTimeMS" -> JInt(8000),
        "$db" -> JString("graft"))))
      val waitedMs = (System.nanoTime() - t0) / 1e6
      writer.join()
      val (id2, batch) = OpMsg.parseCursorReply(reply)
      assert(id2 == id && batch.nonEmpty,
        s"await returned empty after $waitedMs ms")
      // early return with data: well inside the 8 s window, and not
      // before the writer could possibly have committed
      assert(waitedMs < 7000, s"await did not return early ($waitedMs ms)")
      assert(waitedMs >= 300, s"no actual wait happened ($waitedMs ms)")
      roundTrip(JObject(List(
        "killCursors" -> JString("coll"),
        "cursors" -> JArray(List(JLong(id))),
        "$db" -> JString("graft")))): Unit
    } finally { conn.close(); server.stop() }
  }

  test("tailable semantics on one raw cursor: drained batches keep the " +
       "id live with a postBatchResumeToken; exhaust refuses; " +
       "mid-pipeline $changeStream refuses") {
    val (store, server) = fixture()
    val conn = new java.net.Socket("127.0.0.1", server.port)
    try {
      val in = new java.io.BufferedInputStream(conn.getInputStream, 1 << 16)
      val out = new java.io.BufferedOutputStream(conn.getOutputStream, 1 << 16)
      var rid = 0
      def roundTrip(cmd: JObject, flags: Int = 0): Array[Byte] = {
        rid += 1
        OpMsg.writeFrame(out, rid, 0, OpMsg.encodeDoc(cmd), flags = flags,
          compress = false)
        val (_, _, body) = OpMsg.readMessage(in).get
        body
      }
      def getMore(id: Long, flags: Int = 0): Array[Byte] =
        roundTrip(JObject(List(
          "getMore" -> JLong(id), "collection" -> JString("coll"),
          "batchSize" -> JInt(500), "$db" -> JString("graft"))), flags)
      val open = roundTrip(JObject(List(
        "aggregate" -> JString("coll"),
        "pipeline" -> JArray(List(JObject(List("$changeStream" ->
          JObject(List("keyField" -> JString("doc_id"))))))),
        "cursor" -> JObject(List("batchSize" -> JInt(500))),
        "$db" -> JString("graft"))))
      val (id, first) = OpMsg.parseCursorReply(open)
      assert(id != 0L && first.nonEmpty)
      val tok0 = OpMsg.parseResumeToken(open).get
      // drained: empty nextBatch, id STAYS live, token repeats
      val drained = getMore(id)
      val (id2, none) = OpMsg.parseCursorReply(drained)
      assert(id2 == id && none.isEmpty)
      assert(OpMsg.parseResumeToken(drained).contains(tok0))
      assert(server.openCursors == 1)
      // new history arrives → the SAME cursor tails it on the next pull
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
          "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 45), "coll"): Unit
      val tailed = getMore(id)
      val (id3, fresh) = OpMsg.parseCursorReply(tailed)
      assert(id3 == id && fresh.nonEmpty)
      assert(OpMsg.parseResumeToken(tailed).exists(_ > tok0))
      // exhaust on a change cursor refuses
      assert(intercept[IllegalArgumentException](
        OpMsg.parseCursorReply(getMore(id, flags = 0x10000)))
        .getMessage.contains("exhaust"))
      // $changeStream anywhere but first refuses
      assert(intercept[IllegalArgumentException](
        OpMsg.parseCursorReply(roundTrip(JObject(List(
          "aggregate" -> JString("coll"),
          "pipeline" -> JArray(List(
            JObject(List("$match" -> JObject(Nil))),
            JObject(List("$changeStream" -> JObject(Nil))))),
          "cursor" -> JObject(Nil),
          "$db" -> JString("graft"))))))
        .getMessage.contains("first"))
      roundTrip(JObject(List(
        "killCursors" -> JString("coll"),
        "cursors" -> JArray(List(JLong(id))),
        "$db" -> JString("graft")))): Unit
      assert(server.openCursors == 0)
    } finally { conn.close(); server.stop() }
  }

  test("drop mid-watch: drop + terminal invalidate cross the wire, the " +
       "server closes the cursor with the batch, resumeAfter past the " +
       "invalidate refuses, startAfter survives") {
    val (store, server) = fixture()
    try {
      val (_, tok1) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id")
      store.drop("coll"): Unit
      val (ddl, tok2) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", resumeAfter = Some(tok1))
      val ops = ddl.select("operationType").orderBy(col("_id._data"))
        .collect().map(_.getString(0)).toSeq
      assert(ops == Seq("drop", "invalidate"))
      // documentKey/fullDocument are null on DDL events; txn past data
      val txns = ddl.select(col("txnVersion").cast("long"))
        .orderBy(col("_id._data")).collect().map(_.getLong(0)).toSeq
      assert(txns == Seq(3L, 4L))
      // the server closed the cursor WITH the invalidate batch — the
      // client never sent killCursors (watchFetch skips it on id 0)
      assert(server.openCursors == 0)
      // resumeAfter at the invalidate token is a dead end naming the
      // way out; startAfter on the same token opens and idles
      val e = intercept[Exception](OpMsg.watch(spark, "127.0.0.1",
        server.port, "graft", "coll", keyField = "doc_id",
        resumeAfter = Some(tok2)))
      assert(e.getMessage.contains("startAfter"))
      val (idle, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", startAfter = Some(tok2))
      assert(idle.count() == 0)
    } finally server.stop()
  }

  test("rename mid-watch: rename event carries the `to` namespace, then " +
       "invalidate; the old name's stream replays DDL even though its " +
       "history moved with the collection") {
    val (store, server) = fixture()
    try {
      val (_, tok1) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id")
      store.rename("coll", "coll2")
      val (ddl, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", resumeAfter = Some(tok1))
      val rows = ddl.select(col("operationType"), col("to.coll"))
        .orderBy(col("_id._data")).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("rename", "invalidate"))
      assert(rows.head.getString(1) == "coll2")
      // the renamed collection watches under its NEW name with the
      // full moved history
      val (moved, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll2", keyField = "doc_id")
      assert(moved.where(col("operationType").isin("insert", "update",
        "delete")).count() > 0)
      assert(moved.select(col("ns.coll")).distinct().collect()
        .map(_.getString(0)).toSeq == Seq("coll2"))
    } finally server.stop()
  }

  test("db-level watch survives collection DDL: the drop event is " +
       "visible, no invalidate (mongod invalidates db watches only on " +
       "dropDatabase)") {
    val (store, server) = fixture()
    try {
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
          "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 10), "aux"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 15), "aux"): Unit
      store.drop("coll"): Unit
      val (ev, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id")
      val byOp = ev.groupBy("operationType").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byOp.contains("drop"))
      assert(!byOp.contains("invalidate"))
      // the dropped collection's RETAINED transitions stay visible
      assert(ev.where(col("ns.coll") === "coll").count() >= 1)
      assert(ev.where(col("ns.coll") === "aux" &&
        col("operationType") === "insert").count() > 0)
    } finally server.stop()
  }

  test("local changeEvents on a dropped collection replays retained " +
       "transitions only (the terminal events come from the journal, " +
       "never a per-document delete storm)") {
    val (store, server) = fixture()
    server.stop()
    // 2 writes -> versions [1] + live; drop removes live
    store.drop("coll"): Unit
    assert(store.changeEvents("coll", "doc_id").count() == 0)
    val ddl = store.ddlEvents("coll")
    assert(ddl.map(e => (e.op, e.txnVersion)) == Seq(("drop", 3L)))
  }

  test("bounded materialization: a large pending delta pages through " +
       "getMores — the server never collects more than one reply batch " +
       "at once (row-count-asserted), with no loss or duplication") {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_watch_big").toString)
    val docs = spark.range(0, 3000).selectExpr("id AS doc_id",
      "id * 3 AS n_chars")
    store.writeVersioned(docs.where(col("doc_id") < 100), "big"): Unit
    store.writeVersioned(docs, "big"): Unit // 2900-event backlog
    val server = new OpMsg.Server(spark, store)
    try {
      val (ev, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "big", keyField = "doc_id", batchSize = 64)
      assert(ev.count() == 2900)
      assert(ev.select("documentKey").distinct().count() == 2900)
      assert(server.maxCollectedOnce.get() <= 64,
        s"server materialized ${server.maxCollectedOnce.get()} rows at once")
    } finally server.stop()
  }

  test("dropDatabase invalidates the DB-LEVEL watch: per-collection " +
       "drops, then dropDatabase + terminal invalidate close the " +
       "cursor; resumeAfter past it refuses, startAfter survives") {
    val (store, server) = fixture()
    try {
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
          "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 10), "aux"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 15), "aux"): Unit
      val (_, tok1) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id")
      // the wire command drops everything
      OpMsg.command("127.0.0.1", server.port, "graft",
        JObject(List("dropDatabase" -> JInt(1)))): Unit
      assert(store.collections().isEmpty)
      val (ev, tok2) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id", resumeAfter = Some(tok1))
      val ops = ev.select("operationType").orderBy(col("_id._data"))
        .collect().map(_.getString(0)).toSeq
      assert(ops == Seq("drop", "drop", "dropDatabase", "invalidate"))
      // server closed the cursor WITH the invalidate batch
      assert(server.openCursors == 0)
      // the dropDatabase/invalidate rows carry a db-only namespace
      assert(ev.where(col("operationType") === "dropDatabase")
        .select(col("ns.db"), col("ns.coll")).collect().map(r =>
          (r.getString(0), r.isNullAt(1))).toSeq == Seq(("graft", true)))
      val e = intercept[Exception](OpMsg.watch(spark, "127.0.0.1",
        server.port, "graft", "*", keyField = "doc_id",
        resumeAfter = Some(tok2)))
      assert(e.getMessage.contains("startAfter"))
      val (idle, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "*", keyField = "doc_id", startAfter = Some(tok2))
      assert(idle.count() == 0)
    } finally server.stop()
  }

  test("DDL epoch: drop → pruneVersions → recreate starts a FRESH " +
       "change history — no spurious invalidate from the old " +
       "incarnation, and resumeAfter works on new tokens") {
    val (store, server) = fixture()
    try {
      store.drop("coll"): Unit
      store.pruneVersions("coll", 0): Unit
      // old incarnation's journal still exists on disk, but the
      // recreated collection is scoped to its own epoch
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
          "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 5), "coll"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 8), "coll"): Unit
      assert(store.ddlEvents("coll").isEmpty)
      val (ev, tok) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id")
      // only the new incarnation's inserts — NO drop, NO invalidate
      val ops = ev.select("operationType").distinct().collect()
        .map(_.getString(0)).toSet
      assert(ops == Set("insert"))
      // the old invalidate no longer poisons resumeAfter below it
      val (again, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", resumeAfter = Some(tok))
      assert(again.count() == 0)
      // a drop in the NEW epoch journals and invalidates normally
      store.drop("coll"): Unit
      val (ddl, _) = OpMsg.watch(spark, "127.0.0.1", server.port,
        "graft", "coll", keyField = "doc_id", resumeAfter = Some(tok))
      assert(ddl.select("operationType").collect().map(_.getString(0))
        .toSeq.sorted == Seq("drop", "invalidate"))
    } finally server.stop()
  }

  test("a watch cursor's checkpointed event frame is unpersisted when a " +
       "rebuild replaces it, on killCursors and on server stop") {
    val (store, server) = fixture()
    def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    /** wait for the persisted RDDs to equal `want`, then report them */
    def settle(want: Set[Int]): Set[Int] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (pinned != want && System.nanoTime() < deadline) Thread.sleep(20)
      pinned
    }
    def cmd(doc: (String, JValue)*): Map[String, JValue] =
      OpMsg.command("127.0.0.1", server.port, "graft", JObject(doc.toList))
    def cursorId(reply: Map[String, JValue]): Long =
      reply("cursor").asInstanceOf[JObject].obj.toMap.apply("id") match {
        case JLong(l) => l; case JInt(i) => i.toLong
        case other => fail(s"bad cursor id $other")
      }
    def watch(): Long = cursorId(cmd("aggregate" -> JString("coll"),
      "pipeline" -> JArray(List(JObject(List("$changeStream" ->
        JObject(List("keyField" -> JString("doc_id"))))))),
      "cursor" -> JObject(List("batchSize" -> JInt(5)))))
    def getMore(id: Long): Long = cursorId(cmd("getMore" -> JLong(id),
      "collection" -> JString("coll"), "batchSize" -> JInt(5)))
    try {
      val before = pinned
      val id = watch()
      val first = pinned -- before
      assert(id != 0L && first.size == 1)
      assert(getMore(id) == id && pinned -- before == first)
      // new history moves the change signature: the next getMore
      // rebuilds the frame, and the one it replaces goes
      val cur = store.read("coll")
      store.writeVersioned(spark.createDataFrame(java.util.List.of(
        cur.where(col("doc_id") < 30).collect().toSeq: _*), cur.schema),
        "coll"): Unit
      assert(getMore(id) == id)
      val rebuilt = pinned -- before
      assert(rebuilt.size == 1 && rebuilt != first, rebuilt)
      cmd("killCursors" -> JString("coll"),
        "cursors" -> JArray(List(JLong(id)))): Unit
      assert(settle(before) == before)
      // stop() retires every live cursor
      assert(watch() != 0L && (pinned -- before).size == 1)
      server.stop()
      assert(settle(before) == before)
    } finally server.stop()
  }
}
