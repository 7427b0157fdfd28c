package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import CompressFixture._

/** OP_COMPRESSED zstd (compressor id 3) on zstd-jni: real frames from
  * zstd-jni and the zstd CLI across levels, sizes and data shapes
  * decode through the wire's decompression step; frames `writeFrame`
  * emits decode with libzstd and the CLI; and the refusal matrix —
  * dictionaries, checksum mismatches, reserved bits, truncation, size
  * lies — refuses as `OP_COMPRESSED: … zstd …`, never a silent
  * mis-parse. */
class ZstdSpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def jni(data: Array[Byte], level: Int,
                  checksum: Boolean = false): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(level); ctx.setChecksum(checksum)
    try ctx.compress(data) finally ctx.close()
  }
  private def unzstd(frame: Array[Byte], size: Int): Array[Byte] =
    OpMsg.decompressPayload(OpMsg.CompressorZstd, frame, size)
  /** The zstd CLI on PATH, if any. */
  private lazy val cli: Option[java.io.File] =
    sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .map(new java.io.File(_, "zstd")).find(_.canExecute)
  private def runCli(args: String*): Unit = {
    val pr = new ProcessBuilder((cli.get.getAbsolutePath +: args): _*)
      .redirectErrorStream(true).start()
    assert(pr.waitFor() == 0, s"zstd ${args.mkString(" ")}")
  }

  /** `n` bytes of one of five shapes: random, word text, long runs, a
    * four-symbol alphabet, or a 251-byte period. */
  private def shaped(seed: Int, n: Int): Array[Byte] = {
    val words = Array("the", "of", "and", "zstd", "compression", "entropy",
      "a", "data", "block", "sequence", "offset", "match")
    val rnd = new scala.util.Random(seed)
    val d = new Array[Byte](n)
    (seed % 5) match {
      case 0 => rnd.nextBytes(d) // incompressible → raw blocks
      case 1 => // natural text → huffman literals + matches
        val sb = new StringBuilder
        while (sb.length < n) {
          sb.append(words(rnd.nextInt(words.length))).append(' '): Unit
        }
        System.arraycopy(sb.toString.getBytes("UTF-8"), 0, d, 0, n)
      case 2 => // long runs → RLE literals, rep offsets, big match lens
        var i = 0
        while (i < n) { d(i) = (i / (1 + rnd.nextInt(300))).toByte; i += 1 }
      case 3 => // tiny alphabet → skewed FSE distributions
        var i = 0
        while (i < n) { d(i) = rnd.nextInt(4).toByte; i += 1 }
      case _ => // periodic → repeat-offset heavy
        var i = 0
        while (i < n) { d(i) = (i % 251).toByte; i += 1 }
    }
    d
  }

  /** A single-segment frame holding `payload` in one raw last block. */
  private def rawFrame(payload: Array[Byte]): Array[Byte] = {
    require(payload.length < 256)
    val h = (payload.length << 3) | 1
    bytes(0x28, 0xB5, 0x2F, 0xFD, 0x20, payload.length,
      h & 0xFF, (h >>> 8) & 0xFF, 0) ++ payload
  }

  test("wire round-trip through writeFrame/readFrame: empty, tiny, " +
       "300 B, 70 KB, multi-block, random") {
    val rnd = new scala.util.Random(20260816)
    val cases = Seq(
      Array.empty[Byte],
      bytes(0),
      "x".getBytes("UTF-8"),
      Array.fill[Byte](300)(7),
      Array.fill[Byte](70000)(3),
      Array.fill[Byte](128 * 1024 + 17)(1),  // crosses Block_Maximum_Size
      Array.fill[Byte](512)(rnd.nextInt().toByte))
    cases.foreach { c =>
      val doc = binDoc(c)
      val f = read(frame(OpMsg.CompressorZstd, doc))
      assert(f.wasCompressed && f.compressorId == OpMsg.CompressorZstd)
      assert(java.util.Arrays.equals(f.doc, doc), s"round-trip ${c.length} bytes")
    }
  }

  test("RLE blocks decode (a foreign encoder's run-length form)") {
    // hand-built: magic, single-segment FCS=8, one last RLE block of 8×'A'
    val f = bytes(0x28, 0xB5, 0x2F, 0xFD, 0x20, 8) ++
      bytes(0x43, 0x00, 0x00) ++ // last=1, type=RLE(1), size=8
      bytes('A'.toInt)
    assert(new String(unzstd(f, 8), "UTF-8") == "AAAAAAAA")
  }

  test("compressed blocks from a REAL encoder decode: levels × shapes × " +
       "sizes, checksum on and off (Huffman 1/4-stream, FSE predefined/" +
       "compressed/RLE/repeat modes, treeless literals, repeat offsets)") {
    val sizes = Array(0, 1, 37, 1000, 5000, 40000, 131072, 131073, 300000, 17)
    var covered = 0
    for (seed <- 0 until 30) {
      val n = sizes(seed % sizes.length)
      val d = shaped(seed, n)
      for (level <- Seq(1, 3, 7, 13, 19, 22)) {
        val frame = jni(d, level, checksum = seed % 2 == 0)
        assert(java.util.Arrays.equals(unzstd(frame, n), d),
          s"seed=$seed level=$level n=$n")
        covered += 1
      }
    }
    assert(covered == 180)
  }

  test("outbound: writeFrame's zstd payloads decode with libzstd (jni + " +
       "CLI) and shrink compressible input") {
    val sizes = Array(0, 1, 31, 32, 100, 1000, 5000, 40000, 131072,
      131073, 300000, 17)
    for (seed <- 0 until 30) {
      val n = sizes(seed % sizes.length)
      val doc = binDoc(shaped(seed, n))
      val body = com.github.luben.zstd.Zstd.decompress(
        payload(frame(OpMsg.CompressorZstd, doc)), BodyHead + doc.length)
      assert(java.util.Arrays.equals(body.drop(BodyHead), doc),
        s"libzstd round-trip seed=$seed n=$n")
    }
    // compressible text shrinks; random bytes never inflate past a
    // frame and block header
    val text = ("FSE and Huffman walk into a bitstream. " * 3000)
      .getBytes("UTF-8")
    val tf = frame(OpMsg.CompressorZstd, binDoc(text))
    assert(payload(tf).length < text.length / 3,
      s"ratio ${payload(tf).length}/${text.length}")
    val rndb = new Array[Byte](50000)
    new scala.util.Random(3).nextBytes(rndb)
    val rf = frame(OpMsg.CompressorZstd, binDoc(rndb))
    assert(payload(rf).length <= BodyHead + binDoc(rndb).length + 16)
    // the zstd CLI decodes the wire payload byte-exactly
    assume(cli.isDefined, "zstd CLI not on PATH")
    val src = java.nio.file.Files.createTempFile("graft_enc", ".zst")
    val dst = java.nio.file.Files.createTempFile("graft_enc", ".out")
    java.nio.file.Files.write(src, payload(tf))
    runCli("-d", "-f", "-o", dst.toString, src.toString)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(dst).drop(BodyHead), binDoc(text)))
    java.nio.file.Files.delete(src); java.nio.file.Files.delete(dst)
  }

  test("zstd CLI frames decode (including --long window frames)") {
    assume(cli.isDefined, "zstd CLI not on PATH")
    val src = java.nio.file.Files.createTempFile("graft_zstd", ".txt")
    val data = ("FSE and Huffman walk into a bitstream. " * 4000).getBytes("UTF-8")
    java.nio.file.Files.write(src, data)
    for (args <- Seq(Seq("-19"), Seq("-3", "--long=27"))) {
      val dst = java.nio.file.Files.createTempFile("graft_zstd", ".zst")
      runCli(args ++ Seq("-f", "-o", dst.toString, src.toString): _*)
      val frame = java.nio.file.Files.readAllBytes(dst)
      assert(java.util.Arrays.equals(unzstd(frame, data.length), data),
        s"CLI args $args")
      java.nio.file.Files.delete(dst)
    }
    java.nio.file.Files.delete(src)
  }

  test("fuzz: 2000 bit-flipped real frames either refuse with the " +
       "decoder's own error or decode — never a raw runtime exception, " +
       "hang, or unbounded allocation") {
    val rnd = new scala.util.Random(77)
    val words = Array("the", "of", "and", "zstd", "compression",
      "entropy", "a", "data", "block", "sequence")
    val sb = new StringBuilder
    while (sb.length < 200000) {
      sb.append(words(rnd.nextInt(words.length))).append(' '): Unit
    }
    val base = jni(sb.toString.take(200000).getBytes("UTF-8"), 19)
    var refused = 0
    var decoded = 0
    for (_ <- 0 until 2000) {
      val m = base.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      try { unzstd(m, 200000): Unit; decoded += 1 }
      catch { case e: IllegalArgumentException =>
        assert(e.getMessage.startsWith("OP_COMPRESSED: "), e.getMessage)
        refused += 1 }
      // any OTHER throwable (ZstdException, AIOOBE, OOM...) fails the
      // test by escaping the catch
    }
    assert(refused + decoded == 2000)
    assert(refused > 0, "mutations never tripped a check?")
  }

  test("refusals: dict, checksum mismatch, reserved, truncation, " +
       "size lies, trailing bytes, negative FCS") {
    def bad(f: Array[Byte], size: Int = 8): String = {
      val m = intercept[IllegalArgumentException](unzstd(f, size)).getMessage
      assert(m.startsWith("OP_COMPRESSED: ") && m.contains("zstd"), m)
      m
    }
    val good = rawFrame("payload!".getBytes("UTF-8"))
    assert(new String(unzstd(good, 8), "UTF-8") == "payload!")
    // dictionary frame (flag set, a real dictionary id present): the
    // wire never negotiates dictionaries
    val dict = bytes(0x28, 0xB5, 0x2F, 0xFD, 0x21, 0x07, 0x08) ++ good.drop(6)
    assert(bad(dict).toLowerCase.contains("dictionary"))
    // ... and a frame libzstd itself wrote against a trained dictionary
    def sample(i: Int): Array[Byte] =
      (s"""{"user": "user_$i", "event": "click", "ts": ${1700000000 +
        i}, "path": "/products/${i % 7}/detail/${i % 31}"}""").getBytes("UTF-8")
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 22, 16 * 1024)
    (0 until 2000).foreach(i => trainer.addSample(sample(i)))
    val cctx = new com.github.luben.zstd.ZstdCompressCtx()
    val input = sample(987654)
    val dictFrame =
      try { cctx.setLevel(3); cctx.loadDict(trainer.trainSamples()): Unit
        cctx.compress(input) }
      finally cctx.close()
    assert(bad(dictFrame, input.length).toLowerCase.contains("dictionary"))
    // checksum MISMATCH refuses
    val ck = jni("check me".getBytes("UTF-8"), 3, checksum = true)
    ck(ck.length - 1) = (ck(ck.length - 1) ^ 1).toByte
    assert(bad(ck).contains("checksum"))
    // reserved descriptor bit
    val rz = good.clone(); rz(4) = (rz(4) | 0x08).toByte
    bad(rz)
    // bad magic
    val mg = good.clone(); mg(0) = 0x29
    bad(mg)
    // truncated payload
    bad(good.dropRight(3))
    // frame content-size lie
    val lie = good.clone(); lie(5) = (lie(5) + 1).toByte
    bad(lie)
    // envelope size lies, both ways
    assert(bad(good, 9).contains("inflated to 8 bytes, declared 9"))
    bad(good, 7)
    // trailing garbage after the last block
    bad(good :+ 0x00.toByte)
    // reserved block type
    val rb = good.clone(); rb(6) = (rb(6) | 0x06).toByte
    bad(rb)
    // 8-byte FCS with the top bit set must fail, not bypass the
    // declared-size verification
    val neg = bytes(0x28, 0xB5, 0x2F, 0xFD, 0xE0,
      0, 0, 0, 0, 0, 0, 0, 0x80, 0x01, 0x00, 0x00)
    bad(neg)
  }

  test("OP_COMPRESSED id 3: negotiated zstd find ≡ local scan, with real " +
       "compressed-block frames on the wire in both directions") {
    // the wire encoder emits Compressed (type-2) blocks, not raw ones
    val probe = payload(frame(OpMsg.CompressorZstd,
      binDoc(("compressible " * 400).getBytes("UTF-8"))))
    val desc = probe(4) & 0xFF
    val single = (desc & 0x20) != 0
    val fcsBytes = ((desc >>> 6) & 3) match {
      case 0 => if (single) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    val bh = 4 + 1 + (if (single) 0 else 1) + fcsBytes
    val bt = (((probe(bh) & 0xFF) | ((probe(bh + 1) & 0xFF) << 8) |
      ((probe(bh + 2) & 0xFF) << 16)) >>> 1) & 3
    assert(bt == 2, "expected a Compressed block from the wire encoder")
    val spark = graft.SparkFixture.spark
    import org.apache.spark.sql.functions._
    val store = new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_zstd_srv").toString,
      "graftdocs")
    val ev = graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value"))
    store.write(ev, "events")
    val server = new OpMsg.Server(spark, store)
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events",
        Seq(org.apache.spark.sql.sources.GreaterThan("value", 0.4)),
        batchSize = 50, compress = true, compressor = "zstd")
      val local = store.read("events").where(col("value") > 0.4)
      assert(wire.orderBy("event_id").collect().map(_.json).toSeq ==
        local.orderBy("event_id").collect().map(_.json).toSeq)
      assert(wire.count() > 50, "fixture too small to compress getMores")
    } finally server.stop()
  }
}
