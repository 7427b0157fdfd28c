package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** OP_MSG framing + cursor lifecycle over the loopback stand-in. Pins:
  *  - byte-level envelope conformance (little-endian header, opcode
  *    2013 at offset 12, flagBits 0, section kind 0, exact
  *    messageLength);
  *  - command-document BSON round-trips (incl. the {"$date"} form);
  *  - find → getMore → cursor.id=0 drives MULTIPLE round trips when
  *    batchSize < result size, and the union equals the local scan;
  *  - responseTo echoes the request id; errors come back as
  *    {ok: 0, errmsg} and raise client-side;
  *  - unsupported opcodes/flagBits/section kinds refuse. */
class OpMsgSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_srv").toString,
      "graftdocs")
    val ev = graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    store.write(ev, "events")
    (store, new OpMsg.Server(spark, store))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_id").collect().toSeq.map(_.json)

  test("message bytes: exact little-endian envelope") {
    val doc = OpMsg.encodeDoc(JObject(List("ping" -> JInt(1))))
    val out = new ByteArrayOutputStream()
    OpMsg.writeMessage(out, requestId = 7, responseTo = 3, doc)
    val b = out.toByteArray
    def le32(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
    assert(le32(0) == b.length)          // messageLength
    assert(le32(4) == 7 && le32(8) == 3) // requestID / responseTo
    assert(le32(12) == 2013)             // opCode OP_MSG
    assert(le32(16) == 0)                // flagBits
    assert(b(20) == 0)                   // section kind 0
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(b, 21, b.length), doc))
    // and it reads back
    val Some((rid, rto, body)) =
      OpMsg.readMessage(new ByteArrayInputStream(b)): @unchecked
    assert(rid == 7 && rto == 3 && java.util.Arrays.equals(body, doc))
  }

  test("framing refusals: wrong opcode, flag bits, section kind") {
    val doc = OpMsg.encodeDoc(JObject(List("ping" -> JInt(1))))
    val out = new ByteArrayOutputStream()
    OpMsg.writeMessage(out, 1, 0, doc)
    val good = out.toByteArray
    def mutated(off: Int, v: Byte): Array[Byte] = {
      val c = good.clone(); c(off) = v; c
    }
    // unknown opcode refused (2010 = legacy OP_DELETE; 2012 is now
    // spoken — its envelope rows live in OpMsgCompressSpec)
    assert(intercept[IllegalArgumentException](OpMsg.readMessage(
      new ByteArrayInputStream(mutated(12, (2010 & 0xFF).toByte))))
      .getMessage.contains("opCode"))
    // unknown flag bit refused (bit 2 is reserved; checksumPresent is
    // now spoken — its rows live in OpMsgCompressSpec)
    assert(intercept[IllegalArgumentException](OpMsg.readMessage(
      new ByteArrayInputStream(mutated(16, 4))))
      .getMessage.contains("flagBits"))
    // checksumPresent set WITHOUT a valid trailing CRC refuses too
    assert(intercept[IllegalArgumentException](OpMsg.readMessage(
      new ByteArrayInputStream(mutated(16, 1))))
      .getMessage.contains("CRC-32C"))
    // unknown section kind refused (kind 1 is now spoken — its rows
    // live in OpMsgInsertSpec); a kind-1-only message refuses too,
    // because a valid OP_MSG needs exactly one kind-0 body section
    assert(intercept[IllegalArgumentException](OpMsg.readMessage(
      new ByteArrayInputStream(mutated(20, 5))))
      .getMessage.contains("section kind"))
    assert(intercept[IllegalArgumentException](OpMsg.readMessage(
      new ByteArrayInputStream(mutated(20, 1))))
      .getMessage.contains("kind-1"))
  }

  test("command BSON round-trips, including dates and nesting") {
    val cmd = JObject(List(
      "find" -> JString("events"),
      "filter" -> JObject(List(
        "$and" -> JArray(List(
          JObject(List("event_type" -> JObject(List("$eq" -> JString("click"))))),
          JObject(List("ts" -> JObject(List("$gte" ->
            JObject(List("$date" -> JLong(1700000000000L))))))))))),
      "batchSize" -> JInt(50),
      "big" -> JLong(1L << 40),
      "ok" -> JBool(true),
      "nothing" -> JNull,
      "pi" -> JDouble(3.5),
      "$db" -> JString("graft")))
    assert(OpMsg.decodeDoc(OpMsg.encodeDoc(cmd)) == cmd)
  }

  test("find → getMore loop: small batches, union equals the local scan") {
    val (store, server) = fixture()
    try {
      val filters: Seq[Filter] = Seq(GreaterThan("value", 0.5))
      // batchSize 40 over ~hundreds of hits forces several getMore trips
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", filters, batchSize = 40)
      val local = store.read("events").where(col("value") > 0.5)
      assert(local.count() > 40, "fixture too small to exercise getMore")
      assert(canon(wire) == canon(local))
    } finally server.stop()
  }

  test("residual filters stay client-side; limit rides only when full") {
    val (store, server) = fixture()
    try {
      // StringContains is untranslatable → residual
      val filters: Seq[Filter] =
        Seq(StringContains("event_type", "lic"), GreaterThan("value", 0.2))
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", filters, limit = Some(10), batchSize = 64)
      val local = store.read("events")
        .where(col("event_type").contains("lic") && col("value") > 0.2)
      assert(wire.count() == math.min(10, local.count()))
      // fully-translated limit: results bounded server-side
      val full = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.2)), limit = Some(7))
      assert(full.count() == 7)
    } finally server.stop()
  }

  test("unknown commands and bad cursors answer {ok: 0, errmsg} and raise") {
    val (_, server) = fixture()
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val out = conn.getOutputStream
        // (`drop` graduated to a real command in round 11 — use a name
        // no mongod version defines)
        OpMsg.writeMessage(out, 5, 0, OpMsg.encodeDoc(
          JObject(List("frobnicate" -> JString("events")))))
        val Some((_, rto, reply)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        assert(rto == 5)
        val e = intercept[IllegalArgumentException](
          OpMsg.parseCursorReply(reply))
        assert(e.getMessage.contains("unsupported command"))
        // getMore on a vanished cursor
        OpMsg.writeMessage(out, 6, 0, OpMsg.encodeDoc(JObject(List(
          "getMore" -> JLong(424242L), "collection" -> JString("events"),
          "$db" -> JString("graft")))))
        val Some((_, _, reply2)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        assert(intercept[IllegalArgumentException](
          OpMsg.parseCursorReply(reply2)).getMessage.contains("not found"))
      } finally conn.close()
    } finally server.stop()
  }

  test("aggregate over the wire: pipeline crosses as BSON, results page " +
       "through getMore, equals the local pipeline") {
    val (store, server) = fixture()
    try {
      val pipeline = """[
        {"$match": {"value": {"$gt": 0.3}}},
        {"$group": {"_id": "$event_type",
          "n": {"$sum": 1}, "avg_v": {"$avg": "$value"}}},
        {"$sort": {"_id": 1}}]"""
      val wire = OpMsg.aggregate(spark, "127.0.0.1", server.port, "graft",
        "events", pipeline, batchSize = 2) // tiny batches: forces getMore
      val local = graft.mql.PipelineCompiler.run(store.read("events"), pipeline)
      assert(wire.orderBy("_id").collect().toSeq.map(_.json) ==
        local.orderBy("_id").collect().toSeq.map(_.json))
      // a malformed pipeline answers {ok: 0, errmsg} and raises
      assert(intercept[Exception] {
        OpMsg.aggregate(spark, "127.0.0.1", server.port, "graft", "events",
          """[{"$bogusStage": {}}]""").count()
      }.getMessage.nonEmpty)
    } finally server.stop()
  }

  test("empty result: zero batches, empty frame, cursor closed immediately") {
    val (_, server) = fixture()
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(EqualTo("event_type", "no_such_type")))
      assert(wire.count() == 0)
    } finally server.stop()
  }

  test("wire containment (DocWireSpec heritage): the find carries EXACTLY " +
       "the translated MQL; residuals and residual-gated limits never " +
       "cross; a clean limit rides and decodes on the direct BSON path") {
    val (store, server) = fixture()
    try {
      // translated filters cross verbatim as the find's filter document
      val filters: Seq[Filter] =
        Seq(EqualTo("event_type", "click"), GreaterThan("value", 0.25))
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", filters)
      val local = store.read("events")
        .where(col("event_type") === "click" && col("value") > 0.25)
      assert(canon(wire) == canon(local) && wire.count() > 0)
      val req1 = server.requests.filter(_.contains("\"find\"")).last
      assert(req1.contains("\"$eq\":\"click\"") &&
        req1.contains("\"$gt\":0.25"))
      // Not(EqualTo) has no faithful MQL form (Mongo $ne keeps missing
      // fields) — it must NOT cross the wire, and must still apply
      val f2: Seq[Filter] = Seq(GreaterThanOrEqual("user_id", 10L),
        Not(EqualTo("event_type", "view")))
      val wire2 = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", f2)
      val local2 = store.read("events")
        .where(col("user_id") >= 10L && !(col("event_type") === "view"))
      assert(canon(wire2) == canon(local2) && wire2.count() > 0)
      val req2 = server.requests.filter(_.contains("\"find\"")).last
      assert(req2.contains("\"$gte\":10"))
      assert(!req2.contains("view"),
        s"residual leaked onto the wire: $req2")
      // a limit alongside residuals must NOT reach the server — a
      // server-side truncation would run BEFORE the residual and
      // under-return
      val wire3 = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(Not(EqualTo("event_type", "view"))), limit = Some(5))
      val req3 = server.requests.filter(_.contains("\"find\"")).last
      assert(!req3.contains("limit"),
        s"limit leaked onto the wire with residuals: $req3")
      assert(wire3.count() == 5 &&
        wire3.where(col("event_type") === "view").count() == 0)
      // fully-translated limit rides; the frame scans the in-memory
      // cursor relation, whose one decoder is the direct BSON reader
      val wire4 = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(IsNotNull("value")), limit = Some(7))
      assert(wire4.count() == 7)
      val relations = ScanCountsOf.collect(wire4.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
          s.relation.getClass.getSimpleName
      }
      assert(relations == Seq("CursorRelation"),
        s"wire batches did not scan the cursor relation: $relations")
      assert(server.requests.filter(_.contains("\"find\"")).last
        .contains("\"limit\":7"))
    } finally server.stop()
  }

  test("parallel cursors (DocWireSpec heritage): splitVector planning + " +
       "one range-conjunct find per range, union ≡ local, residuals " +
       "contained, one Spark partition per landed cursor file") {
    val (store, server) = fixture()
    try {
      val wire = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "event_id", numSplits = 4,
        filters = Seq(GreaterThan("value", 0.1)))
      val local = store.read("events").where(col("value") > 0.1)
      assert(canon(wire) == canon(local) && wire.count() > 0)
      val finds = server.requests.filter(_.contains("\"find\""))
      assert(server.requests.exists(_.contains("splitVector")))
      assert(finds.size == 4, s"expected 4 range cursors, got: $finds")
      // every find carries BOTH the user filter and its range conjunct
      assert(finds.forall(r =>
        r.contains("\"$gt\":0.1") && r.contains("event_id")))
      assert(finds.count(_.contains("\"$or\"")) == 1)  // null-absorbing first
      assert(finds.count(_.contains("\"$gte\"")) == 3) // lower-bounded ranges
      assert(wire.rdd.getNumPartitions == 4)
      // residuals re-apply client-side AFTER the union
      val wire2 = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "user_id", numSplits = 3,
        filters = Seq(Not(EqualTo("event_type", "view"))))
      val local2 = store.read("events")
        .where(!(col("event_type") === "view"))
      assert(canon(wire2) == canon(local2) && wire2.count() > 0)
      assert(server.requests.filter(_.contains("\"find\"")).drop(finds.size)
        .forall(!_.contains("view")), "residual leaked onto the wire")
    } finally server.stop()
  }

  test("collection names with quotes survive BSON framing verbatim " +
       "(DocWireSpec heritage — no JSON-escaping hazard on the wire)") {
    val (store, server) = fixture()
    try {
      val weird = "ev\"ents"
      store.write(store.read("events").limit(10), weird)
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft", weird)
      assert(wire.count() == 10)
    } finally server.stop()
  }

  test("aggregate ending in \\$out/\\$merge executes SERVER-SIDE and " +
       "answers mongod's empty cursor; mid-pipeline write stages refuse") {
    val (store, server) = fixture()
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val in = new java.io.BufferedInputStream(conn.getInputStream)
        var rid = 0
        def agg(pipeline: String): Array[Byte] = {
          rid += 1
          val stages = graft.mql.Mql.parse(pipeline).asInstanceOf[JArray]
          OpMsg.writeFrame(conn.getOutputStream, rid, 0, OpMsg.encodeDoc(
            JObject(List("aggregate" -> JString("events"),
              "pipeline" -> stages, "cursor" -> JObject(Nil),
              "$db" -> JString("graft")))), flags = 0, compress = false)
          OpMsg.readMessage(in).get._3
        }
        // $out executes; the reply is an EMPTY closed cursor
        val (id, batch) = OpMsg.parseCursorReply(agg(
          """[{"$match": {"value": {"$gt": 0.5}}},
              {"$project": {"event_id": 1, "value": 1}},
              {"$out": "hot_events"}]"""))
        assert(id == 0L && batch.isEmpty)
        val expect = store.read("events").where(col("value") > 0.5).count()
        assert(store.read("hot_events").count() == expect && expect > 0)
        // and the written collection serves wire finds immediately
        val back = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
          "hot_events")
        assert(back.count() == expect)
        // $merge upserts into it
        OpMsg.parseCursorReply(agg(
          """[{"$match": {"value": {"$lte": 0.5}}},
              {"$project": {"event_id": 1, "value": 1}},
              {"$merge": {"into": "hot_events", "on": "event_id",
                "whenMatched": "replace", "whenNotMatched": "insert"}}]""")): Unit
        assert(store.read("hot_events").count() ==
          store.read("events").count())
        // a write stage anywhere else refuses loudly
        assert(intercept[IllegalArgumentException](OpMsg.parseCursorReply(
          agg("""[{"$out": "x"}, {"$match": {}}]""")))
          .getMessage.contains("last"))
      } finally conn.close()
    } finally server.stop()
  }

  test("cursor in use: a getMore while another connection drives the same " +
    "cursor answers code 281, never interleaves") {
    val (store, server) = fixture()
    var a: java.net.Socket = null
    var b: java.net.Socket = null
    try {
      // ~24k rows at batchSize 1 → several MB of one-doc reply frames:
      // an exhaust stream whose client never reads MUST block on full
      // socket buffers with the cursor pin held
      store.write(Seq.fill(24)(store.read("events")).reduce(_ union _),
        "big")
      a = new java.net.Socket()
      a.setReceiveBufferSize(4096)
      a.connect(new java.net.InetSocketAddress("127.0.0.1", server.port))
      val ain = new java.io.BufferedInputStream(a.getInputStream, 1 << 12)
      val aout = new java.io.BufferedOutputStream(a.getOutputStream, 1 << 12)
      OpMsg.writeFrame(aout, 1, 0, OpMsg.encodeDoc(JObject(List(
        "find" -> JString("big"),
        "filter" -> JObject(Nil),
        "batchSize" -> JInt(1),
        "$db" -> JString("graft")))), flags = 0, compress = false)
      val Some(f1) = OpMsg.readFrame(ain): @unchecked
      val (cursorId, _) = OpMsg.parseCursorReply(f1.doc)
      assert(cursorId != 0L, "fixture too small to leave a live cursor")
      // ONE exhaust getMore (exhaustAllowed = bit 16); then stop
      // reading — the server streams until the buffers fill and blocks
      OpMsg.writeFrame(aout, 2, 0, OpMsg.encodeDoc(JObject(List(
        "getMore" -> JLong(cursorId),
        "collection" -> JString("big"),
        "batchSize" -> JInt(1),
        "$db" -> JString("graft")))), flags = 0x10000, compress = false)
      Thread.sleep(300) // let the stream start and wedge on the buffers
      b = new java.net.Socket("127.0.0.1", server.port)
      val bin = new java.io.BufferedInputStream(b.getInputStream, 1 << 14)
      val bout = new java.io.BufferedOutputStream(b.getOutputStream, 1 << 14)
      OpMsg.writeFrame(bout, 7, 0, OpMsg.encodeDoc(JObject(List(
        "getMore" -> JLong(cursorId),
        "collection" -> JString("big"),
        "batchSize" -> JInt(1),
        "$db" -> JString("graft")))), flags = 0, compress = false)
      val Some(fb) = OpMsg.readFrame(bin): @unchecked
      val err = OpMsg.decodeDoc(fb.doc).obj.toMap
      assert(err.get("ok").contains(JDouble(0.0)), s"expected ok:0, got $err")
      assert(err.get("code").contains(JInt(281)), s"expected code 281: $err")
    } finally {
      // closing A unblocks and then kills the server's exhaust writer;
      // its worker thread logs and exits — by design for a dead client
      if (a != null) a.close()
      if (b != null) b.close()
      server.stop()
      store.drop("big"): Unit
    }
  }
}
