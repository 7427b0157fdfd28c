package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The write path over the wire: kind-1 document-sequence sections
  * (byte-level framing + refusals) and the `insert` command loop —
  * rows encode to raw BSON client-side, cross as a "documents"
  * sequence, append server-side through the graftdocs decode. */
class OpMsgInsertSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def emptyStore(): graft.sinks.DocStore =
    new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ins_srv").toString,
      "graftdocs")

  private def events(n: Int) =
    graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id").limit(n)

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_id").collect().toSeq.map(_.json)

  // ---- kind-1 framing -------------------------------------------------------

  test("kind-1 sections: byte layout, round-trip, refusals") {
    val cmd = OpMsg.encodeDoc(JObject(List(
      "insert" -> JString("events"), "$db" -> JString("graft"))))
    val d1 = OpMsg.encodeDoc(JObject(List("a" -> JInt(1))))
    val d2 = OpMsg.encodeDoc(JObject(List("b" -> JString("two"))))
    val out = new ByteArrayOutputStream()
    OpMsg.writeFrame(out, 4, 0, cmd, flags = 0, compress = false,
      sequences = Seq("documents" -> Seq(d1, d2)))
    val b = out.toByteArray
    // the kind-1 section sits after the kind-0 section
    val k1 = 16 + 4 + 1 + cmd.length
    assert(b(k1) == 1) // section kind 1
    def le32(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
    // size = int32 itself + cstring "documents\0" + the two documents
    assert(le32(k1 + 1) == 4 + 10 + d1.length + d2.length)
    val Some(f) = OpMsg.readFrame(new ByteArrayInputStream(b)): @unchecked
    assert(java.util.Arrays.equals(f.doc, cmd))
    assert(f.sequences.map(_._1) == Seq("documents"))
    val docs = f.sequences.head._2
    assert(docs.length == 2)
    assert(java.util.Arrays.equals(docs(0), d1))
    assert(java.util.Arrays.equals(docs(1), d2))
    // a lying section size refuses
    val c1 = b.clone(); c1(k1 + 1) = (c1(k1 + 1) + 7).toByte
    assert(intercept[IllegalArgumentException](OpMsg.readFrame(
      new ByteArrayInputStream(c1))).getMessage.contains("kind-1"))
    // an unknown section kind refuses
    val c2 = b.clone(); c2(k1) = 2
    assert(intercept[IllegalArgumentException](OpMsg.readFrame(
      new ByteArrayInputStream(c2))).getMessage.contains("section kind"))
    // sections survive compression and checksumming
    val outZ = new ByteArrayOutputStream()
    OpMsg.writeFrame(outZ, 4, 0, cmd, flags = 0, compress = true,
      checksum = true, sequences = Seq("documents" -> Seq(d1, d2)))
    val Some(fz) =
      OpMsg.readFrame(new ByteArrayInputStream(outZ.toByteArray)): @unchecked
    assert(fz.wasCompressed && fz.wasChecksummed)
    assert(fz.sequences.head._2.length == 2)
  }

  test("kind-1 identifier without a NUL terminator refuses (bounded scan)") {
    // hand-build a frame whose ONLY kind-1 content is an identifier
    // with no NUL before the section end — the scan must stop at the
    // boundary and refuse, not walk into following bytes or off the
    // buffer (pre-fix: AIOOBE / silent desync)
    val cmd = OpMsg.encodeDoc(JObject(List(
      "insert" -> JString("events"), "$db" -> JString("graft"))))
    val ident = "docs".getBytes("UTF-8") // deliberately unterminated
    val len = 16 + 4 + 1 + cmd.length + 1 + 4 + ident.length
    val out = new ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    le32(len); le32(9); le32(0); le32(2013); le32(0) // header + flagBits
    out.write(0); out.write(cmd)                     // kind-0 section
    out.write(1); le32(4 + ident.length); out.write(ident) // kind-1, no NUL
    assert(intercept[IllegalArgumentException](OpMsg.readFrame(
      new ByteArrayInputStream(out.toByteArray)))
      .getMessage.contains("NUL"))
  }

  test("preload: refuses past the row cap; insert keeps the preloaded " +
    "copy current without dropping to store reads") {
    val store = emptyStore()
    try {
      store.write(events(200), "events")
      // cap below the collection size → loud refusal at construction
      val e = intercept[IllegalStateException](
        new OpMsg.Server(spark, store, preload = true, preloadCap = 100))
      assert(e.getMessage.contains("preload refused") &&
        e.getMessage.contains("events"))
      // cap above it → serves; an insert must surface in the NEXT find
      // (the preloaded LocalRelation is extended driver-side, job-free)
      val server = new OpMsg.Server(spark, store, preload = true)
      try {
        val extra = events(210).exceptAll(events(200))
        val n = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
          "events", extra)
        assert(n == extra.count())
        val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
          "events")
        assert(wire.count() == 200 + n)
        // the insert must have EXTENDED the LocalRelation, not dropped
        // it — a drop re-exposes store reads (and the scheduler
        // deadlock preload exists to prevent)
        assert(server.preloadedCollections.contains("events"))
      } finally server.stop()
    } finally { store.drop("events"): Unit }
  }

  test("driver-compat commands: ping and buildInfo answer; endSessions " +
       "retires a session's retryable-write transaction log") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store)
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val in = new java.io.BufferedInputStream(conn.getInputStream)
        var rid = 0
        def roundTrip(cmd: JObject): Map[String, JValue] = {
          rid += 1
          OpMsg.writeFrame(conn.getOutputStream, rid, 0,
            OpMsg.encodeDoc(cmd), flags = 0, compress = false)
          OpMsg.decodeDoc(OpMsg.readMessage(in).get._3).obj.toMap
        }
        assert(roundTrip(JObject(List("ping" -> JInt(1),
          "$db" -> JString("graft")))).get("ok").contains(JDouble(1.0)))
        val bi = roundTrip(JObject(List("buildInfo" -> JInt(1),
          "$db" -> JString("graft"))))
        assert(bi.get("ok").contains(JDouble(1.0)) &&
          bi.contains("version"))
      } finally conn.close()
      // endSessions drops the session's txn log: the SAME (lsid, txn)
      // applies again afterwards — no longer a replay
      val docs = (1 to 15).map(i => OpMsg.encodeDoc(
        JObject(List("event_id" -> JInt(i)))))
      val ch = new OpMsg.InsertChannel("127.0.0.1", server.port, "graft",
        "sess_sink", None, None, compress = false, checksum = false,
        compressor = "zlib")
      try {
        val sid = "sess-spec/0"
        assert(ch.send(docs, Some((sid, 3L))) == 15L)
        assert(ch.send(docs, Some((sid, 3L))) == 15L) // replay: no apply
        val conn2 = new java.net.Socket("127.0.0.1", server.port)
        try {
          OpMsg.writeFrame(conn2.getOutputStream, 1, 0, OpMsg.encodeDoc(
            JObject(List("endSessions" -> JArray(List(JObject(List(
              "id" -> JString(sid))))), "$db" -> JString("graft")))),
            flags = 0, compress = false)
          val rep = OpMsg.decodeDoc(OpMsg.readMessage(
            new java.io.BufferedInputStream(conn2.getInputStream)).get._3)
          assert(rep.obj.toMap.get("ok").contains(JDouble(1.0)))
        } finally conn2.close()
        assert(ch.send(docs, Some((sid, 3L))) == 15L) // log gone: applies
      } finally ch.close()
      assert(store.read("sess_sink").count() == 30)
    } finally server.stop()
  }

  // ---- insert end-to-end ------------------------------------------------------

  test("insert over the wire ≡ the source rows; a second insert appends") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store)
    try {
      val src = events(120)
      val n = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
        "events", src)
      assert(n == 120)
      assert(canon(store.read("events")) == canon(src))
      // append: the same rows again → count doubles
      val n2 = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
        "events", src)
      assert(n2 == 120 && store.read("events").count() == 240)
    } finally server.stop()
  }

  test("batching under maxBatchDocs still lands every row exactly once") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store)
    try {
      val src = events(101)
      val n = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
        "events", src, maxBatchDocs = 17) // 6 insert commands
      assert(n == 101)
      assert(canon(store.read("events")) == canon(src))
    } finally server.stop()
  }

  test("perPartition insert: one connection per Spark partition, " +
       "concurrent appends never lose a batch") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store)
    try {
      val src = events(150).repartition(5)
      val n = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
        "events", src, maxBatchDocs = 20, perPartition = true)
      assert(n == 150)
      // every row landed exactly once despite 5 concurrent writers
      assert(canon(store.read("events")) ==
        canon(events(150)))
    } finally server.stop()
  }

  test("insert stacks with auth + compression + checksums") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store,
      auth = Some(("writer", "wr-pass")))
    try {
      val src = events(60)
      val n = OpMsg.insert(spark, "127.0.0.1", server.port, "graft",
        "events", src, credentials = Some(("writer", "wr-pass")),
        compress = true, checksum = true, compressor = "snappy",
        maxBatchDocs = 25)
      assert(n == 60)
      assert(canon(store.read("events")) == canon(src))
      // and the round trip composes with a wire READ of what we wrote
      val back = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", credentials = Some(("writer", "wr-pass")))
      assert(canon(back) == canon(src))
    } finally server.stop()
  }

  // ---- parallel cursors over OP_MSG -----------------------------------------

  test("splitVector plans sorted interior bounds; findParallel over " +
       "several cursors equals the local scan (with residuals + limit)") {
    val store = emptyStore()
    val full = graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value"))
    store.write(full, "events")
    val server = new OpMsg.Server(spark, store)
    try {
      val bounds = OpMsg.splitBounds("127.0.0.1", server.port, "graft",
        "events", "event_id", 4)
      assert(bounds.length <= 3 && bounds.nonEmpty)
      assert(bounds == bounds.sorted)
      // parallel read, translatable filter only
      val wire = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "event_id", numSplits = 4,
        filters = Seq(org.apache.spark.sql.sources.GreaterThan("value", 0.2)))
      val local = store.read("events").where(col("value") > 0.2)
      assert(canon(wire) == canon(local))
      // one Spark partition per range cursor
      assert(wire.rdd.getNumPartitions >= 2)
      // residual (untranslatable) filters re-apply client-side; limit
      // stays client-side when residuals exist
      val withResidual = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "event_id", numSplits = 3,
        filters = Seq(
          org.apache.spark.sql.sources.StringContains("event_type", "ic"),
          org.apache.spark.sql.sources.GreaterThan("value", 0.1)),
        limit = Some(10))
      val localR = store.read("events")
        .where(col("event_type").contains("ic") && col("value") > 0.1)
      assert(withResidual.count() == math.min(10, localR.count()))
      // numSplits = 1 degrades to the single-cursor find
      val one = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "event_id", numSplits = 1)
      assert(canon(one) == canon(store.read("events")))
    } finally server.stop()
  }

  test("parallel cursors stack with auth + compression") {
    val store = emptyStore()
    store.write(events(200), "events")
    val server = new OpMsg.Server(spark, store,
      auth = Some(("reader", "rd-pass")))
    try {
      val wire = OpMsg.findParallel(spark, "127.0.0.1", server.port,
        "graft", "events", splitKey = "event_id", numSplits = 3,
        credentials = Some(("reader", "rd-pass")),
        compress = true, compressor = "snappy", checksum = true)
      assert(canon(wire) == canon(store.read("events")))
    } finally server.stop()
  }

  test("legacy documents-array form and refusals") {
    val store = emptyStore()
    val server = new OpMsg.Server(spark, store)
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val out = conn.getOutputStream
        // documents as a BSON array inside the command document
        OpMsg.writeMessage(out, 1, 0, OpMsg.encodeDoc(JObject(List(
          "insert" -> JString("tiny"),
          "documents" -> JArray(List(
            JObject(List("x" -> JInt(1), "s" -> JString("one"))),
            JObject(List("x" -> JInt(2), "s" -> JString("two"))))),
          "$db" -> JString("graft")))))
        val Some((_, _, reply)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        val r = OpMsg.decodeDoc(reply).obj.toMap
        assert(r("ok") == JDouble(1.0) && r("n") == JInt(2))
        assert(store.read("tiny").count() == 2)
        // no documents at all → loud error
        OpMsg.writeMessage(out, 2, 0, OpMsg.encodeDoc(JObject(List(
          "insert" -> JString("tiny"), "$db" -> JString("graft")))))
        val Some((_, _, reply2)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        val r2 = OpMsg.decodeDoc(reply2).obj.toMap
        assert(r2("ok") == JDouble(0.0))
        assert(r2("errmsg").asInstanceOf[JString].s.contains("documents"))
      } finally conn.close()
    } finally server.stop()
  }
}
