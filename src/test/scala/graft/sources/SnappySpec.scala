package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import CompressFixture._

/** OP_COMPRESSED snappy (compressor id 1) on snappy-java: hand-built
  * vectors straight from the published block format (so the wire's
  * decompression step is pinned against the format, not against an
  * encoder), round-trips through `writeFrame`/`readFrame` whose
  * payloads snappy-java decodes, and the strict refusal matrix — every
  * failure an `OP_COMPRESSED: … snappy …` refusal that never allocates
  * past the declared size. */
class SnappySpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def unsnappy(in: Array[Byte], size: Int): Array[Byte] =
    OpMsg.decompressPayload(OpMsg.CompressorSnappy, in, size)
  private def refusal(in: Array[Byte], size: Int): String = {
    val m = intercept[IllegalArgumentException](unsnappy(in, size)).getMessage
    assert(m.startsWith("OP_COMPRESSED: ") && m.contains("snappy"), m)
    m
  }

  // ---- decoder vs hand-built format vectors --------------------------------

  test("literal-only stream") {
    // varint len 5; literal tag (5-1)<<2 = 0x10; "hello"
    val in = bytes(0x05, 0x10) ++ "hello".getBytes("UTF-8")
    assert(new String(unsnappy(in, 5), "UTF-8") == "hello")
  }

  test("overlapping copy extends a run (the RLE trick)") {
    // "aaaaaaaaaa": varint 10; literal 'a'; copy-1 len 9 offset 1
    // copy-1 tag: ((9-4) << 2) | 1 = 0x15; offset byte 0x01
    val in = bytes(0x0A, 0x00, 'a'.toInt, 0x15, 0x01)
    assert(new String(unsnappy(in, 10), "UTF-8") == "a" * 10)
  }

  test("two-byte-offset copy") {
    // "abcdabcd": varint 8; literal "abcd" (tag 0x0C); copy-2 len 4
    // offset 4 → tag ((4-1)<<2)|2 = 0x0E, offset LE 04 00
    val in = bytes(0x08, 0x0C) ++ "abcd".getBytes("UTF-8") ++
      bytes(0x0E, 0x04, 0x00)
    assert(new String(unsnappy(in, 8), "UTF-8") == "abcdabcd")
  }

  test("four-byte-offset copy") {
    val in = bytes(0x08, 0x0C) ++ "wxyz".getBytes("UTF-8") ++
      bytes(0x0F, 0x04, 0x00, 0x00, 0x00)
    assert(new String(unsnappy(in, 8), "UTF-8") == "wxyzwxyz")
  }

  test("long literal with extra length bytes") {
    val payload = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    // tag 61<<2 = 0xF4: two LE extra bytes holding len-1 = 299 = 0x012B
    val in = bytes(0xAC, 0x02) /* varint 300 */ ++
      bytes(0xF4, 0x2B, 0x01) ++ payload
    assert(java.util.Arrays.equals(unsnappy(in, 300), payload))
  }

  // ---- strict-decoder refusals ----------------------------------------------

  test("refusals: bad offset, truncation, declared-size lies") {
    // copy before any output
    refusal(bytes(0x04, 0x15, 0x01), 4)
    // literal runs past the input
    refusal(bytes(0x05, 0x10, 'a'.toInt), 5)
    // stream produces fewer bytes than its preamble declares
    refusal(bytes(0x07, 0x10) ++ "hello".getBytes("UTF-8"), 7)
    // stream produces more bytes than its preamble declares
    refusal(bytes(0x03, 0x10) ++ "hello".getBytes("UTF-8"), 3)
    // truncated varint preamble
    refusal(bytes(0x80), 5)
    // a sound stream whose preamble disagrees with the envelope, both
    // ways (a longer one must refuse before it writes past the buffer)
    val hello = bytes(0x05, 0x10) ++ "hello".getBytes("UTF-8")
    assert(refusal(hello, 6).contains("inflated to 5 bytes, declared 6"))
    assert(refusal(hello, 3).contains("inflated to 5 bytes, declared 3"))
  }

  test("refusal: 4-extra-byte literal length near Int.MaxValue refuses " +
    "cleanly (no Int-overflow escape to arraycopy)") {
    // tag 0xFC: len field 63 → 64 > 60 → 4 extra LE bytes follow,
    // here encoding l = 0x7FFFFF00: a literal far past both the input
    // and the declared 10 bytes
    val in = bytes(0x0A) /* declared 10 */ ++
      bytes(0xFC, 0x00, 0xFF, 0xFF, 0x7F) ++ "abc".getBytes("UTF-8")
    assert(allocated(refusal(in, 10): Unit) < (1 << 20))
    // a preamble claiming Int.MaxValue bytes refuses before any output
    // buffer exists
    val huge = bytes(0xFF, 0xFF, 0xFF, 0xFF, 0x07, 0x08) ++ "abc".getBytes("UTF-8")
    assert(allocated(refusal(huge, 10): Unit) < (1 << 20))
  }

  // ---- wire round-trip properties -------------------------------------------

  test("round-trip: empty, tiny, repetitive, random, and BSON-shaped") {
    val rnd = new scala.util.Random(42)
    val cases = Seq[Array[Byte]](
      Array.empty,
      "a".getBytes,
      "abc".getBytes,
      ("na" * 4000 + " batman").getBytes,
      ("the quick brown fox jumps over the lazy dog. " * 200).getBytes,
      Array.fill(10000)((rnd.nextInt(256) - 128).toByte),
      Array.fill(65000)(0x2A.toByte), // single long run
      Array.tabulate(70000)(i => (i % 7).toByte)
    ) ++ (1 to 20).map { i =>
      val n = rnd.nextInt(5000)
      // half-random, half-repeated — exercises literal/copy interleave
      val base = Array.fill(math.max(n / 4, 4))(
        (rnd.nextInt(256) - 128).toByte)
      Array.fill((n / base.length) + 1)(base).flatten.take(n)
    }
    for ((c, i) <- cases.zipWithIndex) {
      val doc = binDoc(c)
      val f = frame(OpMsg.CompressorSnappy, doc)
      assert(java.util.Arrays.equals(read(f).doc, doc),
        s"case $i (len ${c.length}) failed round-trip")
      // snappy-java reads what the wire wrote
      assert(java.util.Arrays.equals(
        org.xerial.snappy.Snappy.uncompress(payload(f)).drop(BodyHead), doc),
        s"case $i (len ${c.length}) is not a snappy-java stream")
    }
    // repetitive input actually shrinks
    val rep = ("na" * 4000).getBytes
    assert(payload(frame(OpMsg.CompressorSnappy, binDoc(rep))).length <
      rep.length / 10)
  }

  // ---- wire integration ------------------------------------------------------

  test("OP_COMPRESSED snappy frame: compressorId 1, round-trip, " +
       "corrupt payload refuses") {
    import org.json4s._
    val doc = OpMsg.encodeDoc(JObject(List(
      "find" -> JString("events"),
      "filter" -> JObject((1 to 30).toList.map(i =>
        s"k$i" -> JString("repeated repeated repeated"))),
      "$db" -> JString("graft"))))
    val out = new java.io.ByteArrayOutputStream()
    OpMsg.writeFrame(out, 3, 0, doc, flags = 0, compress = true,
      compressor = OpMsg.CompressorSnappy)
    val b = out.toByteArray
    def le32(o: Int) = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
    assert(le32(12) == 2012 && b(24) == 1) // OP_COMPRESSED, snappy id
    assert(b.length < 16 + 4 + 1 + doc.length) // it shrank
    val Some(f) = OpMsg.readFrame(
      new java.io.ByteArrayInputStream(b)): @unchecked
    assert(f.wasCompressed && f.compressorId == 1)
    assert(java.util.Arrays.equals(f.doc, doc))
    // a lying uncompressedSize refuses deterministically (the block
    // format itself carries no checksum — that's what flag bit 0 adds)
    val c = b.clone(); c(20) = (c(20) + 1).toByte
    assert(intercept[IllegalArgumentException](OpMsg.readFrame(
      new java.io.ByteArrayInputStream(c)))
      .getMessage.contains("snappy inflated"))
  }
}
