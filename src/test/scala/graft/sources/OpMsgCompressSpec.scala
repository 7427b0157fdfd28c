package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The optional wire features a production driver negotiates on top of
  * plain OP_MSG — pinned at the byte level and end-to-end:
  *  - OP_COMPRESSED (opcode 2012, zlib): envelope layout
  *    (originalOpcode / uncompressedSize / compressorId / deflate),
  *    round-trip, size-mismatch + unknown-compressor + corrupt-payload
  *    refusals, and the negotiation rule (hello first; handshake/auth
  *    commands never compressed);
  *  - exhaust streaming (exhaustAllowed → moreToCome reply stream):
  *    one getMore, many replies, equals the local scan;
  *  - killCursors with CursorNotFound (code 43) and idle-cursor
  *    timeout eviction. */
class OpMsgCompressSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def fixture(timeoutMs: Long = 600000L)
      : (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_z").toString,
      "graftdocs")
    val ev = graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    store.write(ev, "events")
    (store, new OpMsg.Server(spark, store, cursorTimeoutMillis = timeoutMs))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_id").collect().toSeq.map(_.json)

  private def le32(b: Array[Byte], o: Int) =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  // ---- byte-level envelope -------------------------------------------------

  test("OP_COMPRESSED envelope: layout, round-trip, actual shrinkage") {
    // repetitive command document → compressible
    val doc = OpMsg.encodeDoc(JObject(List(
      "find" -> JString("events"),
      "filter" -> JObject((1 to 40).toList.map(i =>
        s"f$i" -> JString("the same repeated value padding padding"))),
      "$db" -> JString("graft"))))
    val plain = new ByteArrayOutputStream()
    OpMsg.writeMessage(plain, 9, 0, doc)
    val comp = new ByteArrayOutputStream()
    OpMsg.writeFrame(comp, 9, 4, doc, flags = 0, compress = true)
    val b = comp.toByteArray
    assert(le32(b, 0) == b.length)    // messageLength
    assert(le32(b, 4) == 9 && le32(b, 8) == 4)
    assert(le32(b, 12) == 2012)       // OP_COMPRESSED
    assert(le32(b, 16) == 2013)       // originalOpcode
    assert(le32(b, 20) == 4 + 1 + doc.length) // uncompressedSize
    assert(b(24) == 2)                // compressorId zlib
    assert(b.length < plain.size())   // it actually compressed
    val Some(f) = OpMsg.readFrame(new ByteArrayInputStream(b)): @unchecked
    assert(f.requestId == 9 && f.responseTo == 4 && f.wasCompressed)
    assert(java.util.Arrays.equals(f.doc, doc))
    // and a plain frame reads back with wasCompressed = false
    val Some(p) =
      OpMsg.readFrame(new ByteArrayInputStream(plain.toByteArray)): @unchecked
    assert(!p.wasCompressed && java.util.Arrays.equals(p.doc, doc))
  }

  test("OP_COMPRESSED refusals: size mismatch, unknown/unavailable " +
       "compressors, corrupt payload") {
    val doc = OpMsg.encodeDoc(JObject(List("ping" -> JInt(1))))
    val out = new ByteArrayOutputStream()
    OpMsg.writeFrame(out, 1, 0, doc, flags = 0, compress = true)
    val good = out.toByteArray
    def mutated(off: Int, v: Byte): Array[Byte] = {
      val c = good.clone(); c(off) = v; c
    }
    def readOf(bytes: Array[Byte]) =
      OpMsg.readFrame(new ByteArrayInputStream(bytes))
    // declared uncompressedSize lies → refuse
    assert(intercept[IllegalArgumentException](
      readOf(mutated(20, (le32(good, 20) + 1).toByte)))
      .getMessage.contains("inflated"))
    // a zlib payload relabeled snappy (1) / zstd (3) must fail the
    // respective codec's parse, never mis-decode
    assert(intercept[IllegalArgumentException](readOf(mutated(24, 1)))
      .getMessage.contains("snappy"))
    assert(intercept[IllegalArgumentException](readOf(mutated(24, 3)))
      .getMessage.contains("zstd"))
    // unknown compressor id
    assert(intercept[IllegalArgumentException](readOf(mutated(24, 7)))
      .getMessage.contains("compressorId"))
    // corrupt deflate stream (surfaces as either a zlib parse error or
    // an inflated-size mismatch, both on the OP_COMPRESSED envelope)
    assert(intercept[IllegalArgumentException](readOf(mutated(30, 0x55)))
      .getMessage.contains("OP_COMPRESSED"))
    // originalOpcode must be OP_MSG
    assert(intercept[IllegalArgumentException](readOf(mutated(16, 0x11)))
      .getMessage.contains("originalOpcode"))
  }

  test("a snappy payload whose preamble exceeds uncompressedSize is refused " +
       "before its output is allocated") {
    // snappy-java writes as many bytes as the preamble names: the check
    // against the envelope's size must come before the output exists.
    // The second payload pins that order: its preamble names 4096 bytes,
    // then a copy before any literal, which snappy refuses as corrupt
    val valid = org.xerial.snappy.Snappy.compress(
      Array.tabulate[Byte](4096)(i => (i % 7).toByte))
    val corruptBody = Array[Byte](0x80.toByte, 0x20, 0x01, 0x00)
    for (payload <- Seq(valid, corruptBody)) {
      val e = intercept[IllegalArgumentException](
        OpMsg.decompressPayload(OpMsg.CompressorSnappy, payload, 64))
      assert(e.getMessage == "OP_COMPRESSED: snappy inflated to 4096 bytes, declared 64")
    }
  }

  // ---- CRC-32C checksums (flag bit 0) ---------------------------------------

  test("checksumPresent: round-trip, corruption detection, and the " +
       "compressed form carries the same CRC") {
    val doc = OpMsg.encodeDoc(JObject(List(
      "find" -> JString("events"), "$db" -> JString("graft"))))
    val out = new ByteArrayOutputStream()
    OpMsg.writeFrame(out, 11, 2, doc, flags = 0, compress = false,
      checksum = true)
    val b = out.toByteArray
    assert((le32(b, 16) & 1) == 1) // flagBits carry checksumPresent
    val Some(f) = OpMsg.readFrame(new ByteArrayInputStream(b)): @unchecked
    assert(f.wasChecksummed && f.flags == 0) // verified, then stripped
    assert(java.util.Arrays.equals(f.doc, doc))
    // corrupt a payload byte → CRC mismatch refuses
    val c1 = b.clone(); c1(24) = (c1(24) ^ 0x40).toByte
    assert(intercept[IllegalArgumentException](
      OpMsg.readFrame(new ByteArrayInputStream(c1)))
      .getMessage.contains("CRC-32C"))
    // corrupt the trailing checksum itself → same refusal
    val c2 = b.clone(); c2(b.length - 1) = (c2(b.length - 1) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](
      OpMsg.readFrame(new ByteArrayInputStream(c2)))
      .getMessage.contains("CRC-32C"))
    // checksummed + compressed: the CRC rides inside the envelope and
    // verifies identically after inflation
    val outZ = new ByteArrayOutputStream()
    OpMsg.writeFrame(outZ, 11, 2, doc, flags = 0, compress = true,
      checksum = true)
    val Some(fz) =
      OpMsg.readFrame(new ByteArrayInputStream(outZ.toByteArray)): @unchecked
    assert(fz.wasChecksummed && fz.wasCompressed)
    assert(java.util.Arrays.equals(fz.doc, doc))
  }

  test("checksummed find ≡ local scan, alone and stacked with " +
       "compression + exhaust") {
    val (store, server) = fixture()
    try {
      val local = store.read("events").where(col("value") > 0.45)
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.45)), batchSize = 50,
        checksum = true)
      assert(canon(wire) == canon(local))
      val wireAll = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.45)), batchSize = 50,
        compress = true, exhaust = true, checksum = true)
      assert(canon(wireAll) == canon(local))
      assert(server.openCursors == 0)
    } finally server.stop()
  }

  test("frame fuzz: 120 random (doc, sequences, compressor, checksum) " +
       "frames round-trip bit-exactly") {
    val rnd = new scala.util.Random(7)
    def randDoc(depth: Int): JObject = JObject(
      (0 until (1 + rnd.nextInt(5))).toList.map { i =>
        val v: JValue = rnd.nextInt(if (depth > 0) 7 else 6) match {
          case 0 => JInt(rnd.nextInt())
          case 1 => JLong(rnd.nextLong())
          case 2 => JDouble(rnd.nextInt(1000) / 8.0)
          case 3 => JString(rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
          case 4 => JBool(rnd.nextBoolean())
          case 5 => JNull
          case _ => randDoc(depth - 1)
        }
        s"f$i" -> v
      })
    (1 to 120).foreach { n =>
      val doc = OpMsg.encodeDoc(randDoc(2))
      val seqs = (0 until rnd.nextInt(3)).map(j =>
        s"seq$j" -> (0 until rnd.nextInt(4)).map(_ =>
          OpMsg.encodeDoc(randDoc(1))))
      val compress = rnd.nextBoolean()
      val compressor = if (rnd.nextBoolean()) OpMsg.CompressorZlib
                       else OpMsg.CompressorSnappy
      val checksum = rnd.nextBoolean()
      val out = new ByteArrayOutputStream()
      OpMsg.writeFrame(out, n, n * 7, doc, flags = 0, compress = compress,
        checksum = checksum, compressor = compressor, sequences = seqs)
      val Some(f) = OpMsg.readFrame(
        new ByteArrayInputStream(out.toByteArray)): @unchecked
      assert(f.requestId == n && f.responseTo == n * 7)
      assert(f.wasCompressed == compress && f.wasChecksummed == checksum)
      assert(java.util.Arrays.equals(f.doc, doc), s"draw $n doc")
      assert(f.sequences.map(_._1) == seqs.map(_._1), s"draw $n idents")
      f.sequences.zip(seqs).foreach { case ((_, got), (_, want)) =>
        assert(got.length == want.length)
        got.zip(want).foreach { case (g, w) =>
          assert(java.util.Arrays.equals(g, w), s"draw $n seq doc") }
      }
    }
  }

  // ---- negotiation ---------------------------------------------------------

  test("compressed find ≡ local scan; compression is negotiated; " +
       "unnegotiated and handshake compression refuse") {
    val (store, server) = fixture()
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.5)), batchSize = 40,
        compress = true)
      val local = store.read("events").where(col("value") > 0.5)
      assert(local.count() > 40, "fixture too small to exercise getMore")
      assert(canon(wire) == canon(local))

      // a compressed command WITHOUT prior hello negotiation refuses
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val out = conn.getOutputStream
        OpMsg.writeFrame(out, 1, 0, OpMsg.encodeDoc(JObject(List(
          "find" -> JString("events"), "$db" -> JString("graft")))),
          flags = 0, compress = true)
        val Some((_, _, reply)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        val e = intercept[IllegalArgumentException](
          OpMsg.parseCursorReply(reply))
        assert(e.getMessage.contains("negotiated"))
        // hello itself must never arrive compressed
        OpMsg.writeFrame(out, 2, 0, OpMsg.encodeDoc(JObject(List(
          "hello" -> JInt(1), "$db" -> JString("graft")))),
          flags = 0, compress = true)
        val Some((_, _, reply2)) =
          OpMsg.readMessage(conn.getInputStream): @unchecked
        assert(intercept[IllegalArgumentException](
          OpMsg.parseCursorReply(reply2))
          .getMessage.contains("must not arrive compressed"))
      } finally conn.close()
    } finally server.stop()
  }

  test("snappy-compressed find ≡ local scan (mongod's default " +
       "compressor, negotiated end-to-end)") {
    val (store, server) = fixture()
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.55)), batchSize = 40,
        compress = true, compressor = "snappy")
      val local = store.read("events").where(col("value") > 0.55)
      assert(canon(wire) == canon(local))
      // unknown compressor names refuse client-side before dialing
      // (zstd graduated to a spoken compressor in round 9 — ZstdSpec)
      assert(intercept[IllegalArgumentException](
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "events",
          Seq.empty, compress = true, compressor = "lz4"))
        .getMessage.contains("lz4"))
    } finally server.stop()
  }

  test("compressed aggregate ≡ local pipeline") {
    val (store, server) = fixture()
    try {
      val pipeline = """[
        {"$match": {"value": {"$gt": 0.3}}},
        {"$group": {"_id": "$event_type", "n": {"$sum": 1}}},
        {"$sort": {"_id": 1}}]"""
      val wire = OpMsg.aggregate(spark, "127.0.0.1", server.port, "graft",
        "events", pipeline, batchSize = 2, compress = true)
      val local = graft.mql.PipelineCompiler.run(
        store.read("events"), pipeline)
      assert(wire.orderBy("_id").collect().toSeq.map(_.json) ==
        local.orderBy("_id").collect().toSeq.map(_.json))
    } finally server.stop()
  }

  // ---- exhaust streaming ---------------------------------------------------

  test("exhaust cursor: one getMore, a moreToCome reply stream, " +
       "equals the local scan — plain and compressed") {
    val (store, server) = fixture()
    try {
      val local = store.read("events").where(col("value") > 0.4)
      assert(local.count() > 120, "fixture too small for several batches")
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.4)), batchSize = 40,
        exhaust = true)
      assert(canon(wire) == canon(local))
      val wireZ = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.4)), batchSize = 40,
        exhaust = true, compress = true)
      assert(canon(wireZ) == canon(local))
      assert(server.openCursors == 0) // both streams drained fully
    } finally server.stop()
  }

  // ---- killCursors + timeout ----------------------------------------------

  private def rawRoundTrip(conn: java.net.Socket, reqId: Int,
                           cmd: JObject): JObject = {
    OpMsg.writeMessage(conn.getOutputStream, reqId, 0, OpMsg.encodeDoc(cmd))
    val Some((_, rto, reply)) =
      OpMsg.readMessage(conn.getInputStream): @unchecked
    assert(rto == reqId)
    OpMsg.decodeDoc(reply)
  }
  private def cursorIdOf(reply: JObject): Long =
    reply.obj.toMap.apply("cursor") match {
      case JObject(c) => c.toMap.apply("id") match {
        case JLong(l) => l
        case JInt(i) => i.toLong
        case other => fail(s"cursor id $other")
      }
      case other => fail(s"no cursor in $other")
    }

  test("killCursors: kills live cursors, reports unknown ids, getMore " +
       "after the kill answers CursorNotFound (code 43)") {
    val (_, server) = fixture()
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val open = rawRoundTrip(conn, 1, JObject(List(
          "find" -> JString("events"), "batchSize" -> JInt(5),
          "$db" -> JString("graft"))))
        val id = cursorIdOf(open)
        assert(id != 0L && server.openCursors == 1)
        val kill = rawRoundTrip(conn, 2, JObject(List(
          "killCursors" -> JString("events"),
          "cursors" -> JArray(List(JLong(id), JLong(999999L))),
          "$db" -> JString("graft")))).obj.toMap
        assert(kill("cursorsKilled") == JArray(List(JLong(id))))
        assert(kill("cursorsNotFound") == JArray(List(JLong(999999L))))
        assert(server.openCursors == 0)
        val gm = rawRoundTrip(conn, 3, JObject(List(
          "getMore" -> JLong(id), "collection" -> JString("events"),
          "$db" -> JString("graft")))).obj.toMap
        assert(gm("ok") == JDouble(0.0))
        assert(gm("code") == JInt(43))
        assert(gm("errmsg").asInstanceOf[JString].s.contains("not found"))
      } finally conn.close()
    } finally server.stop()
  }

  test("idle cursors are evicted after cursorTimeoutMillis") {
    val (_, server) = fixture(timeoutMs = 25L)
    try {
      val conn = new java.net.Socket("127.0.0.1", server.port)
      try {
        val open = rawRoundTrip(conn, 1, JObject(List(
          "find" -> JString("events"), "batchSize" -> JInt(5),
          "$db" -> JString("graft"))))
        val id = cursorIdOf(open)
        assert(server.openCursors == 1)
        Thread.sleep(80)
        // the next request sweeps, then fails to find the cursor
        val gm = rawRoundTrip(conn, 2, JObject(List(
          "getMore" -> JLong(id), "collection" -> JString("events"),
          "$db" -> JString("graft")))).obj.toMap
        assert(gm("ok") == JDouble(0.0) && gm("code") == JInt(43))
        assert(server.openCursors == 0)
      } finally conn.close()
    } finally server.stop()
  }

  test("a prompt getMore keeps the cursor alive past the timeout window") {
    val (store, server) = fixture(timeoutMs = 2000L)
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq.empty, batchSize = 60)
      assert(wire.count() == store.read("events").count())
    } finally server.stop()
  }
}
