package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources.Filter
import org.json4s._
import graft.mql.{FilterCompiler, FilterTranslator}

/** MongoDB OP_MSG wire protocol (opcode 2013) over the loopback
  * stand-in — the byte-level framing LIVE_CONNECTOR.md item 1 called
  * out, built and tested for real: both ends of this module speak the
  * documented envelope
  * (`messageLength,requestID,responseTo,opCode` header, little-endian;
  * `flagBits`; section kind 0 carrying one BSON command document), the
  * real command documents (`find`/`filter`/`batchSize`/`$db`,
  * `getMore`/`collection`), and the real cursor lifecycle (`firstBatch`
  * → `getMore` → `nextBatch` until `cursor.id = 0`, reply documents
  * `{cursor: {...}, ok: 1.0}`, errors `{ok: 0.0, errmsg, code}`), plus
  * the optional wire features a production driver negotiates: SCRAM-
  * SHA-256 auth (with SASLprep), TLS with endpoint identification,
  * OP_COMPRESSED with zlib (JDK), snappy (snappy-java) or zstd
  * (zstd-jni) — the two jars Spark ships — negotiated via `hello`,
  * handshake/auth commands never compressed, exhaust cursor streaming
  * (`exhaustAllowed` / `moreToCome` flag bits), `killCursors` with
  * CursorNotFound (code 43) semantics, and idle-cursor timeout
  * eviction. The only thing this connector has never seen is an
  * actual mongod (zero egress, no mongod binary in the sandbox).
  *
  * Batch documents cross the wire as raw BSON: [[parseCursorReply]]
  * slices each `firstBatch`/`nextBatch` element out of the reply by
  * length-walking, and the slices decode in memory on the direct
  * bytes→vectors path — into a driver-side frame ([[localFrame]]) or
  * straight into a `graftwire` task's reader — the `find_raw_batches →
  * process_bson_stream` loop (reference api.py:175, lib.pyx:296-311)
  * over authentic framing. Nothing the client reads touches disk. */
object OpMsg {
  private val OpMsgCode = 2013
  private val OpCompressedCode = 2012
  private val MaxMessage = 48 * 1024 * 1024 // mongod's maxMessageSizeBytes
  // mongod's write-batch limits, which the client's insert batching keeps
  private[sources] val MaxWriteBatchDocs = 100000 // maxWriteBatchSize
  private[sources] val MaxBsonObjectSize = 16 * 1024 * 1024 // maxBsonObjectSize

  // OP_MSG flagBits this implementation speaks (wire spec):
  //   bit 0  checksumPresent — message ends with a CRC-32C of the
  //          whole message excluding the checksum itself (JDK CRC32C);
  //          verified on read, stripped before the Frame surfaces
  //   bit 1  moreToCome      — exhaust replies (server streams)
  //   bit 16 exhaustAllowed  — client permits an exhaust reply stream
  private val FlagChecksumPresent = 0x1
  private val FlagMoreToCome = 0x2
  private val FlagExhaustAllowed = 0x10000
  private val KnownFlags =
    FlagChecksumPresent | FlagMoreToCome | FlagExhaustAllowed

  /** CRC-32C over (reconstructed original OP_MSG header) ++ body-sans-
    * checksum — the "message excluding the checksum itself". The
    * header is reconstructed so the value is identical whether the
    * frame crosses plain or inside an OP_COMPRESSED envelope. */
  private def crc32c(requestId: Int, responseTo: Int,
                     body: Array[Byte], bodyLen: Int): Int = {
    val head = new ByteArrayOutputStream(16)
    writeInt(head, 16 + bodyLen + 4) // original messageLength incl. crc
    writeInt(head, requestId); writeInt(head, responseTo)
    writeInt(head, OpMsgCode)
    val c = new java.util.zip.CRC32C()
    c.update(head.toByteArray)
    c.update(body, 0, bodyLen)
    c.getValue.toInt
  }

  // OP_COMPRESSED compressor ids (wire spec): 0 noop, 1 snappy,
  // 2 zlib, 3 zstd. zlib runs on the JDK's Deflater/Inflater; snappy
  // (mongod's default) and zstd run on snappy-java and zstd-jni, the
  // codecs Spark itself ships. Dictionaries are never negotiated on
  // the wire, so a zstd frame naming one refuses.
  private[sources] val CompressorNoop = 0
  private[sources] val CompressorSnappy = 1
  private[sources] val CompressorZlib = 2
  private[sources] val CompressorZstd = 3
  private[sources] def compressorId(name: String): Int = name match {
    case "zlib" => CompressorZlib
    case "snappy" => CompressorSnappy
    case "zstd" => CompressorZstd
    case other => throw new IllegalArgumentException(
      s"unsupported compressor '$other' (zlib/snappy/zstd are spoken)")
  }

  /** One decoded wire frame. `moreToCome` set means the peer will send
    * further replies without another request (exhaust stream);
    * `exhaustAllowed` set on a request permits the server to do so.
    * `wasCompressed` records whether the frame arrived as
    * OP_COMPRESSED (auth/hello commands must NOT — wire spec). */
  final case class Frame(requestId: Int, responseTo: Int, flags: Int,
                         doc: Array[Byte], wasCompressed: Boolean,
                         wasChecksummed: Boolean = false,
                         compressorId: Int = -1,
                         sequences: Seq[(String, Seq[Array[Byte]])] = Nil) {
    def moreToCome: Boolean = (flags & FlagMoreToCome) != 0
    def exhaustAllowed: Boolean = (flags & FlagExhaustAllowed) != 0
  }

  // ---- little-endian primitives -----------------------------------------

  private def writeInt(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
  }
  private def writeLong(out: ByteArrayOutputStream, v: Long): Unit = {
    writeInt(out, v.toInt); writeInt(out, (v >> 32).toInt)
  }
  private def readIntLE(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
  private def readLongLE(b: Array[Byte], o: Int): Long =
    (readIntLE(b, o) & 0xFFFFFFFFL) | (readIntLE(b, o + 4).toLong << 32)
  private def writeCString(out: ByteArrayOutputStream, s: String): Unit = {
    val bytes = s.getBytes("UTF-8")
    require(!bytes.contains(0.toByte), s"cstring with NUL: $s")
    out.write(bytes, 0, bytes.length); out.write(0)
  }
  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val bytes = s.getBytes("UTF-8")
    writeInt(out, bytes.length + 1)
    out.write(bytes, 0, bytes.length); out.write(0)
  }

  // ---- JValue command document <-> BSON ---------------------------------
  //
  // The bounded surface command documents need: strings, int32/int64,
  // doubles, booleans, null, documents, arrays, and the extended-JSON
  // `{"$date": ms}` form as BSON datetime — exactly what
  // FilterTranslator emits. decode(encode(v)) round-trips structurally,
  // so the server can re-render and compile the filter with the same
  // semantics the line-JSON protocol has.

  def encodeDoc(v: JValue): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    v match {
      case o: JObject => writeDocInto(out, o)
      case other => throw new IllegalArgumentException(
        s"OP_MSG: command must be a document, got $other")
    }
    out.toByteArray
  }

  private def isDate(fields: List[(String, JValue)]): Option[Long] =
    fields match {
      case List(("$date", JInt(ms))) => Some(ms.toLong)
      case List(("$date", JLong(ms))) => Some(ms)
      case _ => None
    }

  private def writeDocInto(out: ByteArrayOutputStream, o: JObject): Unit = {
    val body = new ByteArrayOutputStream(256)
    o.obj.foreach { case (name, v) => writeElement(body, name, v) }
    writeInt(out, 4 + body.size + 1)
    body.writeTo(out)
    out.write(0)
  }

  private def writeElement(out: ByteArrayOutputStream, name: String,
                           v: JValue): Unit = {
    def header(t: Int): Unit = { out.write(t); writeCString(out, name) }
    v match {
      case JNull => header(0x0A)
      case JBool(b) => header(0x08); out.write(if (b) 1 else 0)
      case JString(s) => header(0x02); writeString(out, s)
      case JDouble(d) =>
        header(0x01); writeLong(out, java.lang.Double.doubleToLongBits(d))
      case JInt(i) =>
        if (i.isValidInt) { header(0x10); writeInt(out, i.toInt) }
        else { header(0x12); writeLong(out, i.toLong) }
      // JLong stays int64 regardless of magnitude: cursor ids and
      // getMore targets are int64 on the real wire even when small
      case JLong(l) => header(0x12); writeLong(out, l)
      case JDecimal(d) => header(0x01)
        writeLong(out, java.lang.Double.doubleToLongBits(d.toDouble))
      case o @ JObject(fields) => isDate(fields) match {
        case Some(ms) => header(0x09); writeLong(out, ms)
        case None => fields match {
          case List(("$binary", JString(b64))) =>
            val bytes = java.util.Base64.getDecoder.decode(b64)
            header(0x05); writeInt(out, bytes.length); out.write(0)
            out.write(bytes, 0, bytes.length)
          case List(("$timestamp", JObject(ts))) =>
            // BSON internal timestamp (0x11): increment low, seconds
            // high — the $clusterTime/operationTime gossip currency
            def tsField(k: String): Long = ts.collectFirst {
              case (`k`, JInt(x)) => x.toLong
              case (`k`, JLong(x)) => x
            }.getOrElse(0L)
            header(0x11)
            writeLong(out, (tsField("t") << 32) |
              (tsField("i") & 0xFFFFFFFFL))
          case _ => header(0x03); writeDocInto(out, o)
        }
      }
      case JArray(es) =>
        header(0x04)
        writeDocInto(out, JObject(es.zipWithIndex.map { case (e, i) =>
          (i.toString, e) }))
      case other => throw new IllegalArgumentException(
        s"OP_MSG: cannot BSON-encode $other")
    }
  }

  /** Decode a BSON document back to the JValue surface [[encodeDoc]]
    * writes (datetimes come back as `{"$date": ms}`). */
  def decodeDoc(b: Array[Byte], off: Int = 0): JObject = {
    val len = readIntLE(b, off)
    require(off + len <= b.length && len >= 5, "truncated BSON document")
    var p = off + 4
    val fields = List.newBuilder[(String, JValue)]
    while (b(p) != 0) {
      val t = b(p) & 0xFF
      p += 1
      val nameStart = p
      while (b(p) != 0) p += 1
      val name = new String(b, nameStart, p - nameStart, "UTF-8")
      p += 1
      val (v, next) = decodeValue(b, p, t)
      fields += ((name, v))
      p = next
    }
    JObject(fields.result())
  }

  private def decodeValue(b: Array[Byte], p: Int, t: Int): (JValue, Int) =
    t match {
      case 0x0A => (JNull, p)
      case 0x08 => (JBool(b(p) != 0), p + 1)
      case 0x10 => (JInt(BigInt(readIntLE(b, p))), p + 4)
      case 0x12 => (JLong(readLongLE(b, p)), p + 8)
      case 0x01 =>
        (JDouble(java.lang.Double.longBitsToDouble(readLongLE(b, p))), p + 8)
      case 0x02 =>
        val n = readIntLE(b, p)
        (JString(new String(b, p + 4, n - 1, "UTF-8")), p + 4 + n)
      case 0x09 =>
        (JObject(List("$date" -> JLong(readLongLE(b, p)))), p + 8)
      case 0x05 =>
        val n = readIntLE(b, p) // subtype byte at p+4, payload after
        val payload = java.util.Arrays.copyOfRange(b, p + 5, p + 5 + n)
        (JObject(List("$binary" ->
          JString(java.util.Base64.getEncoder.encodeToString(payload)))),
          p + 5 + n)
      case 0x03 =>
        val o = decodeDoc(b, p)
        (o, p + readIntLE(b, p))
      case 0x04 =>
        val o = decodeDoc(b, p)
        (JArray(o.obj.map(_._2)), p + readIntLE(b, p))
      case 0x11 =>
        val v = readLongLE(b, p)
        (JObject(List("$timestamp" -> JObject(List(
          "t" -> JLong(v >>> 32), "i" -> JLong(v & 0xFFFFFFFFL))))),
          p + 8)
      case other => throw new IllegalArgumentException(
        f"OP_MSG: unsupported BSON element type 0x$other%02X in a command")
    }

  // ---- framing -----------------------------------------------------------

  /** header(16) + flagBits(4) + one kind-0 section (0x00 + doc). */
  def writeMessage(out: OutputStream, requestId: Int, responseTo: Int,
                   doc: Array[Byte]): Unit =
    writeFrame(out, requestId, responseTo, doc, flags = 0, compress = false)

  private val ZstdLevel = 3

  /** The OP_COMPRESSED payload of `raw` under compressor `id`. */
  private def compressPayload(id: Int, raw: Array[Byte]): Array[Byte] = id match {
    case CompressorZlib =>
      val deflater = new java.util.zip.Deflater()
      try {
        deflater.setInput(raw); deflater.finish()
        val buf = new Array[Byte](raw.length + 64)
        val acc = new ByteArrayOutputStream(raw.length / 2 + 64)
        while (!deflater.finished())
          acc.write(buf, 0, deflater.deflate(buf))
        acc.toByteArray
      } finally deflater.end()
    case CompressorSnappy => org.xerial.snappy.Snappy.compress(raw)
    case CompressorZstd => com.github.luben.zstd.Zstd.compress(raw, ZstdLevel)
    case CompressorNoop => raw
    case other => throw new IllegalArgumentException(
      s"OP_COMPRESSED: cannot emit compressorId $other")
  }

  /** Decompress an OP_COMPRESSED payload to exactly `size` bytes (the
    * envelope's uncompressedSize, already capped at MaxMessage). Never
    * allocates more than `size`: snappy's own length preamble is
    * checked before the output exists, zlib and zstd decode into a
    * buffer of the declared size. Every codec failure refuses as an
    * `OP_COMPRESSED: <codec> …` IllegalArgumentException. */
  private[sources] def decompressPayload(id: Int, payload: Array[Byte],
                                         size: Int): Array[Byte] = {
    def sized(codec: String, n: Int): Unit =
      if (n != size) throw new IllegalArgumentException(
        s"OP_COMPRESSED: $codec inflated to $n bytes, declared $size")
    def corrupt(codec: String, e: Exception): Nothing =
      throw new IllegalArgumentException(
        s"OP_COMPRESSED: corrupt $codec payload: ${e.getMessage}")
    id match {
      case CompressorNoop =>
        sized("noop", payload.length)
        payload
      case CompressorZlib =>
        val out = new Array[Byte](size)
        val inflater = new java.util.zip.Inflater()
        try {
          inflater.setInput(payload)
          val n = try inflater.inflate(out)
            catch { case e: java.util.zip.DataFormatException => corrupt("zlib", e) }
          sized("zlib", n)
          if (!inflater.finished()) throw new IllegalArgumentException(
            s"OP_COMPRESSED: zlib inflated past the declared $size bytes")
        } finally inflater.end()
        out
      case CompressorSnappy =>
        // snappy-java writes as many bytes as the stream's own preamble
        // names, so the preamble must match `size` before `out` exists
        try {
          sized("snappy", org.xerial.snappy.Snappy.uncompressedLength(payload))
          val out = new Array[Byte](size)
          sized("snappy", org.xerial.snappy.Snappy.uncompress(
            payload, 0, payload.length, out, 0))
          out
        } catch { case e: java.io.IOException => corrupt("snappy", e) }
      case CompressorZstd =>
        val out = new Array[Byte](size)
        val n = try com.github.luben.zstd.Zstd.decompressByteArray(
            out, 0, size, payload, 0, payload.length)
          catch { case e: com.github.luben.zstd.ZstdException => corrupt("zstd", e) }
        sized("zstd", n.toInt)
        out
      case other => throw new IllegalArgumentException(
        s"OP_COMPRESSED: unknown compressorId $other")
    }
  }

  /** Write one frame, optionally with flag bits and an OP_COMPRESSED
    * envelope (originalOpcode + uncompressedSize + compressorId +
    * the flagBits-and-sections compressed by zlib, snappy or zstd —
    * wire spec layout). */
  def writeFrame(out: OutputStream, requestId: Int, responseTo: Int,
                 doc: Array[Byte], flags: Int, compress: Boolean,
                 checksum: Boolean = false,
                 compressor: Int = CompressorZlib,
                 sequences: Seq[(String, Seq[Array[Byte]])] = Nil): Unit = {
    require((flags & ~KnownFlags) == 0 && (flags & FlagChecksumPresent) == 0,
      s"OP_MSG: cannot emit flagBits 0x${flags.toHexString}")
    // the OP_MSG body a receiver sees after (optional) decompression
    val inner = new ByteArrayOutputStream(doc.length + 12)
    writeInt(inner, if (checksum) flags | FlagChecksumPresent else flags)
    inner.write(0) // section kind 0
    inner.write(doc, 0, doc.length)
    // kind-1 document-sequence sections (wire spec): 0x01, int32 size
    // (includes itself, excludes the kind byte), cstring identifier,
    // then back-to-back BSON documents — how drivers ship bulk-write
    // payloads without embedding a giant BSON array in the command
    sequences.foreach { case (ident, docs) =>
      inner.write(1)
      val identBytes = ident.getBytes("UTF-8")
      require(!identBytes.contains(0.toByte), s"sequence id with NUL: $ident")
      val size = 4 + identBytes.length + 1 + docs.map(_.length).sum
      writeInt(inner, size)
      inner.write(identBytes, 0, identBytes.length); inner.write(0)
      docs.foreach(d => inner.write(d, 0, d.length))
    }
    if (checksum) {
      val sansCrc = inner.toByteArray
      writeInt(inner, crc32c(requestId, responseTo, sansCrc, sansCrc.length))
    }
    val msg = new ByteArrayOutputStream(doc.length + 48)
    if (!compress) {
      writeInt(msg, 16 + inner.size)
      writeInt(msg, requestId); writeInt(msg, responseTo)
      writeInt(msg, OpMsgCode)
      inner.writeTo(msg)
    } else {
      val raw = inner.toByteArray
      val packed = compressPayload(compressor, raw)
      writeInt(msg, 16 + 4 + 4 + 1 + packed.length)
      writeInt(msg, requestId); writeInt(msg, responseTo)
      writeInt(msg, OpCompressedCode)
      writeInt(msg, OpMsgCode)    // originalOpcode
      writeInt(msg, raw.length)   // uncompressedSize
      msg.write(compressor)       // compressorId
      msg.write(packed, 0, packed.length)
    }
    msg.writeTo(out)
    out.flush()
  }

  /** Read one message; returns (requestId, responseTo, body document).
    * Refuses frames carrying flag bits (exhaust callers use
    * [[readFrame]], which surfaces them). */
  def readMessage(in: InputStream): Option[(Int, Int, Array[Byte])] =
    readFrame(in).map { f =>
      if (f.flags != 0) throw new IllegalArgumentException(
        s"OP_MSG: unexpected flagBits 0x${f.flags.toHexString} " +
          "on a non-exhaust exchange")
      (f.requestId, f.responseTo, f.doc)
    }

  /** Read one frame. Accepts OP_MSG (2013) and OP_COMPRESSED (2012,
    * noop, snappy, zlib or zstd — the inflated bytes must be an OP_MSG
    * body of exactly the declared uncompressedSize). Refuses other
    * opcodes, oversized frames, unknown flag bits, checksums, unknown
    * compressors, and non-kind-0 sections. */
  def readFrame(in: InputStream): Option[Frame] = {
    val head = new Array[Byte](16)
    var got = 0
    while (got < 16) {
      val n = in.read(head, got, 16 - got)
      if (n < 0) { if (got == 0) return None
        else throw new EOFException("truncated OP_MSG header") }
      got += n
    }
    val len = readIntLE(head, 0)
    if (len < 21 || len > MaxMessage) throw new IllegalArgumentException(
      s"OP_MSG: bad messageLength $len")
    val op = readIntLE(head, 12)
    if (op != OpMsgCode && op != OpCompressedCode)
      throw new IllegalArgumentException(
        s"OP_MSG: unsupported opCode $op (only 2013/2012 are spoken)")
    var body = new Array[Byte](len - 16)
    got = 0
    while (got < body.length) {
      val n = in.read(body, got, body.length - got)
      if (n < 0) throw new EOFException("truncated OP_MSG body")
      got += n
    }
    val wasCompressed = op == OpCompressedCode
    var arrivedCompressorId = -1
    if (wasCompressed) {
      if (body.length < 9) throw new IllegalArgumentException(
        "OP_COMPRESSED: truncated envelope")
      val original = readIntLE(body, 0)
      if (original != OpMsgCode) throw new IllegalArgumentException(
        s"OP_COMPRESSED: originalOpcode $original (only 2013 is spoken)")
      val uncompressedSize = readIntLE(body, 4)
      if (uncompressedSize < 5 || uncompressedSize > MaxMessage)
        throw new IllegalArgumentException(
          s"OP_COMPRESSED: bad uncompressedSize $uncompressedSize")
      val id = body(8) & 0xFF
      arrivedCompressorId = id
      body = decompressPayload(id,
        java.util.Arrays.copyOfRange(body, 9, body.length), uncompressedSize)
    }
    var flags = readIntLE(body, 0)
    if ((flags & ~KnownFlags) != 0) throw new IllegalArgumentException(
      s"OP_MSG: unsupported flagBits 0x${flags.toHexString}")
    val reqId = readIntLE(head, 4)
    val respTo = readIntLE(head, 8)
    val checksummed = (flags & FlagChecksumPresent) != 0
    if (checksummed) {
      if (body.length < 14) throw new IllegalArgumentException(
        "OP_MSG: checksummed frame too short")
      val dataLen = body.length - 4
      val expect = crc32c(reqId, respTo, body, dataLen)
      val got = readIntLE(body, dataLen)
      if (got != expect) throw new IllegalArgumentException(
        f"OP_MSG: CRC-32C mismatch (got 0x$got%08x, computed 0x$expect%08x)" +
          " — corrupt frame")
      body = java.util.Arrays.copyOfRange(body, 0, dataLen)
      flags &= ~FlagChecksumPresent // transport detail, not surfaced
    }
    // section walk: exactly one kind-0 body document, any number of
    // kind-1 document sequences, in any order (wire spec)
    var pos = 4
    var doc: Array[Byte] = null
    val seqs = Seq.newBuilder[(String, Seq[Array[Byte]])]
    while (pos < body.length) {
      body(pos) match {
        case 0 =>
          if (doc != null) throw new IllegalArgumentException(
            "OP_MSG: more than one kind-0 section")
          if (pos + 5 > body.length) throw new IllegalArgumentException(
            "OP_MSG: truncated kind-0 section")
          val dlen = readIntLE(body, pos + 1)
          if (dlen < 5 || pos + 1 + dlen > body.length)
            throw new IllegalArgumentException(
              s"OP_MSG: kind-0 document length $dlen out of range")
          doc = java.util.Arrays.copyOfRange(body, pos + 1, pos + 1 + dlen)
          pos += 1 + dlen
        case 1 =>
          if (pos + 5 > body.length) throw new IllegalArgumentException(
            "OP_MSG: truncated kind-1 section")
          val size = readIntLE(body, pos + 1)
          val end = pos + 1 + size
          if (size < 5 || end > body.length)
            throw new IllegalArgumentException(
              s"OP_MSG: kind-1 section size $size out of range")
          var q = pos + 5
          // bound the identifier scan by the section end — a malformed
          // frame whose identifier lacks a NUL must fail loudly, not
          // walk past the section (desync) or the buffer (AIOOBE)
          while (q < end && body(q) != 0) q += 1
          if (q >= end) throw new IllegalArgumentException(
            "OP_MSG: kind-1 identifier missing NUL terminator")
          val ident = new String(body, pos + 5, q - (pos + 5), "UTF-8")
          q += 1
          val docsB = Seq.newBuilder[Array[Byte]]
          while (q < end) {
            val dl = readIntLE(body, q)
            if (dl < 5 || q + dl > end) throw new IllegalArgumentException(
              s"OP_MSG: kind-1 document length $dl overruns its section")
            docsB += java.util.Arrays.copyOfRange(body, q, q + dl)
            q += dl
          }
          seqs += ((ident, docsB.result()))
          pos = end
        case k => throw new IllegalArgumentException(
          s"OP_MSG: unsupported section kind $k (only kinds 0/1)")
      }
    }
    if (doc == null) throw new IllegalArgumentException(
      "OP_MSG: message carries no kind-0 section")
    Some(Frame(reqId, respTo, flags, doc, wasCompressed, checksummed,
      arrivedCompressorId, seqs.result()))
  }

  /** Walk a `{cursor: {id, ns, firstBatch|nextBatch: [...]}, ok}` reply,
    * slicing the batch documents out as raw bytes (no tree). Raises on
    * `ok != 1` with the reply's errmsg. */
  def parseCursorReply(doc: Array[Byte]): (Long, Seq[Array[Byte]]) = {
    var ok = 0.0
    var errmsg = "unknown error"
    var cursorId = 0L
    var slices: Seq[Array[Byte]] = Seq.empty

    def skip(b: Array[Byte], p: Int, t: Int): Int = t match {
      case 0x0A => p
      case 0x08 => p + 1
      case 0x10 => p + 4
      case 0x01 | 0x09 | 0x11 | 0x12 => p + 8
      case 0x13 => p + 16
      case 0x02 | 0x0D => p + 4 + readIntLE(b, p)
      case 0x03 | 0x04 => p + readIntLE(b, p)
      case 0x05 => p + 5 + readIntLE(b, p)
      case 0x07 => p + 12
      case other => throw new IllegalArgumentException(
        f"OP_MSG reply: cannot skip BSON type 0x$other%02X")
    }
    def walk(b: Array[Byte], off: Int)(f: (String, Int, Int) => Unit): Unit = {
      var p = off + 4
      while (b(p) != 0) {
        val t = b(p) & 0xFF
        p += 1
        val ns = p
        while (b(p) != 0) p += 1
        val name = new String(b, ns, p - ns, "UTF-8")
        p += 1
        f(name, t, p)
        p = skip(b, p, t)
      }
    }
    walk(doc, 0) {
      case ("ok", 0x01, p) =>
        ok = java.lang.Double.longBitsToDouble(readLongLE(doc, p))
      case ("ok", 0x10, p) => ok = readIntLE(doc, p).toDouble
      case ("errmsg", 0x02, p) =>
        errmsg = new String(doc, p + 4, readIntLE(doc, p) - 1, "UTF-8")
      case ("cursor", 0x03, p) =>
        walk(doc, p) {
          case ("id", 0x12, q) => cursorId = readLongLE(doc, q)
          case (n, 0x04, q) if n == "firstBatch" || n == "nextBatch" =>
            val out = Seq.newBuilder[Array[Byte]]
            walk(doc, q) { case (_, 0x03, e) =>
              out += java.util.Arrays.copyOfRange(doc, e, e + readIntLE(doc, e))
            case (_, t, _) => throw new IllegalArgumentException(
              f"OP_MSG reply: batch element of type 0x$t%02X")
            }
            slices = out.result()
          case _ => ()
        }
      case _ => ()
    }
    if (ok != 1.0) throw new IllegalArgumentException(
      s"OP_MSG command failed: $errmsg")
    (cursorId, slices)
  }

  /** Pull `cursor.postBatchResumeToken._data` out of a cursor reply —
    * None when the reply carries no token (plain find/aggregate). */
  private[sources] def parseResumeToken(doc: Array[Byte]): Option[String] = {
    val tree = decodeDoc(doc)
    tree.obj.collectFirst { case ("cursor", JObject(co)) =>
      co.collectFirst { case ("postBatchResumeToken", JObject(po)) =>
        po.collectFirst { case ("_data", JString(s)) => s }
      }.flatten
    }.flatten
  }

  /** Reply builder: raw batch documents embed verbatim as array
    * elements — the server never re-encodes what the sink wrote. */
  private[sources] def buildCursorReply(cursorId: Long, ns: String,
                                        batchField: String,
                                        docs: Seq[Array[Byte]],
                                        postBatchResumeToken: Option[String]
                                          = None,
                                        extraTop: List[(String, JValue)]
                                          = Nil): Array[Byte] = {
    val arrBody = new ByteArrayOutputStream(docs.map(_.length + 8).sum + 16)
    docs.zipWithIndex.foreach { case (d, i) =>
      arrBody.write(0x03); writeCString(arrBody, i.toString)
      arrBody.write(d, 0, d.length)
    }
    val cur = new ByteArrayOutputStream(arrBody.size + 96)
    // cursor subdocument body
    val curBody = new ByteArrayOutputStream(arrBody.size + 64)
    curBody.write(0x12); writeCString(curBody, "id"); writeLong(curBody, cursorId)
    curBody.write(0x02); writeCString(curBody, "ns"); writeString(curBody, ns)
    curBody.write(0x04); writeCString(curBody, batchField)
    writeInt(curBody, 4 + arrBody.size + 1)
    arrBody.writeTo(curBody)
    curBody.write(0)
    // change streams: {postBatchResumeToken: {_data: "<token>"}} — the
    // mongod field a driver persists to resume after THIS batch even
    // when the batch itself is empty
    postBatchResumeToken.foreach { tok =>
      val inner = new ByteArrayOutputStream(tok.length + 16)
      inner.write(0x02); writeCString(inner, "_data"); writeString(inner, tok)
      curBody.write(0x03); writeCString(curBody, "postBatchResumeToken")
      writeInt(curBody, 4 + inner.size + 1)
      inner.writeTo(curBody)
      curBody.write(0)
    }
    // top-level: {cursor: {...}[, extras], ok: 1.0} — extras carry a
    // command's summary fields beside the cursor (bulkWrite's counts)
    val top = new ByteArrayOutputStream(curBody.size + 32)
    top.write(0x03); writeCString(top, "cursor")
    writeInt(top, 4 + curBody.size + 1)
    curBody.writeTo(top)
    top.write(0)
    extraTop.foreach { case (k, v) => writeElement(top, k, v) }
    top.write(0x01); writeCString(top, "ok")
    writeLong(top, java.lang.Double.doubleToLongBits(1.0))
    writeInt(cur, 4 + top.size + 1)
    top.writeTo(cur)
    cur.write(0)
    cur.toByteArray
  }

  private[sources] def buildErrorReply(msg: String, code: Int = 0,
      codeName: String = null,
      labels: Seq[String] = Nil): Array[Byte] =
    encodeDoc(JObject(List("ok" -> JDouble(0.0), "errmsg" -> JString(msg)) ++
      (if (code != 0) List("code" -> JInt(code)) else Nil) ++
      (if (codeName != null) List("codeName" -> JString(codeName)) else Nil) ++
      (if (labels.nonEmpty)
        List("errorLabels" -> JArray(labels.toList.map(JString(_))))
      else Nil)))

  /** A command failure carrying mongod's full error shape: numeric
    * code, codeName, and errorLabels (the transaction machinery's
    * TransientTransactionError is what driver retry loops key on). */
  final class CommandError(msg: String, val code: Int,
                           val codeName: String,
                           val labels: Seq[String] = Nil)
    extends RuntimeException(msg)

  /** mongod's CursorNotFound error code. */
  private[sources] val CursorNotFound = 43

  /** mongod's CursorInUse error code — two connections driving the
    * same cursor concurrently is rejected, never interleaved. */
  private[sources] val CursorInUse = 281

  /** Preload row ceiling per collection — preload is a same-JVM
    * test-fixture affordance, never a serving strategy at scale. */
  private[sources] val PreloadCap = 1000000

  // ---- TLS ----------------------------------------------------------------
  //
  // The transport layer mongod terminates with --tlsMode: the stand-in
  // server wraps its listener in an SSLServerSocket from a PKCS12
  // keystore, and the client pins the same store as its TRUST store
  // with endpoint identification ON (the certificate must carry a SAN
  // for the host being dialed — no hostname-check shortcuts). A plain
  // client against a TLS server fails the handshake, never hangs.

  private def sslContext(storePath: String, password: String,
                         forServer: Boolean): javax.net.ssl.SSLContext = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(storePath))
    try ks.load(in, password.toCharArray) finally in.close()
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    if (forServer) {
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, password.toCharArray)
      ctx.init(kmf.getKeyManagers, null, null)
    } else {
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      ctx.init(null, tmf.getTrustManagers, null)
    }
    ctx
  }

  private def clientSocket(host: String, port: Int,
                           tls: Option[(String, String)]): java.net.Socket =
    tls match {
      case None => new java.net.Socket(host, port)
      case Some((store, pw)) =>
        val sock = sslContext(store, pw, forServer = false).getSocketFactory
          .createSocket(host, port).asInstanceOf[javax.net.ssl.SSLSocket]
        val params = sock.getSSLParameters
        // real hostname verification — the cert must carry a SAN for
        // `host` (dns or ip); a CN-only cert fails here by design
        params.setEndpointIdentificationAlgorithm("HTTPS")
        sock.setSSLParameters(params)
        sock.startHandshake()
        sock
    }

  // ---- server (mongod stand-in) ------------------------------------------

  /** OP_MSG server over the engine's own MQL semantics: `find` opens a
    * cursor (FilterCompiler evaluates the filter, rows encode through
    * the BSON sink writer), `getMore` pages it, `cursor.id = 0` closes
    * it. One message loop per connection (cursors are connection-
    * agnostic here; a real driver pins them — both work). */
  final class Server(spark: SparkSession, store: graft.sinks.DocStore,
                     db: String = "graft",
                     auth: Option[(String, String)] = None,
                     tls: Option[(String, String)] = None,
                     cursorTimeoutMillis: Long = 600000L,
                     preload: Boolean = false,
                     preloadCap: Int = OpMsg.PreloadCap,
                     txnLifetimeSeconds: Long = 60L) {
    // preload: serve `find` cursors from materialized LocalRelations —
    // filter/projection fold driver-side (ConvertToLocalRelation), so
    // answering a cursor never schedules a Spark job. A real mongod is
    // not a Spark program and cannot starve its own client's scheduler;
    // a SAME-JVM loopback stand-in can, when every task slot sits
    // blocked on a cursor it is serving (the DSv2 graftwire source puts
    // one cursor in every task). Preloading at construction time (and
    // after inserts, lazily on the next quiet find) removes the shared
    // resource entirely for the find path.
    private val localRel =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    private def materialize(coll: String): DataFrame = {
      val df = store.read(coll)
      // preload materializes whole collections onto the driver heap —
      // a deliberate test-fixture affordance (see the preload comment
      // above), not a serving strategy. Refuse loudly past 1 M rows
      // rather than silently OOM the driver.
      val rows = df.limit(preloadCap + 1).collect()
      if (rows.length > preloadCap) throw new IllegalStateException(
        s"preload refused: collection '$coll' exceeds $preloadCap rows — " +
          "preload materializes collections driver-side and exists only " +
          "for same-JVM loopback testing; run without preload")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    if (preload)
      store.collections().foreach(c => localRel.put(c, materialize(c)): Unit)
    // mongod stores (salt, i, StoredKey, ServerKey) per user — so does
    // this stand-in; the password is hashed once here and dropped
    private val credential: Option[(String, Scram.Credential)] =
      auth.map { case (u, pw) =>
        val salt = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(salt)
        (u, Scram.credential(pw, salt, 15000))
      }
    private val socket: java.net.ServerSocket = tls match {
      case None => new java.net.ServerSocket(0, 16,
        java.net.InetAddress.getLoopbackAddress)
      case Some((storePath, pw)) =>
        sslContext(storePath, pw, forServer = true).getServerSocketFactory
          .createServerSocket(0, 16, java.net.InetAddress.getLoopbackAddress)
    }
    @volatile private var running = true
    private val nextCursor = new java.util.concurrent.atomic.AtomicLong(1000)
    /** Tailable change-stream state riding a cursor: enough to
      * recompute the event stream past the last token served — the
      * (mtime,name)/version offsets ARE the resume positions, encoded
      * as `{_id: {_data: "<zero-padded txnVersion>/<documentKey>"}}`. */
    private final class ChangeTail(val coll: String, val keyField: String,
                                   val restJson: String,
                                   val mongodTokens: Boolean = false) {
      @volatile var lastToken: String = ""
      // an invalidate event is terminal: the serving batch is the
      // cursor's last (mongod closes the cursor with it)
      @volatile var invalidated: Boolean = false
      // per-cursor pinned event frame: the change-event delta past the
      // token at build time, materialized ONCE (localCheckpoint) and
      // reused across awaitData polls while `frameSig` matches the
      // store's changeSignature. Any write/append/DDL moves the
      // signature and the next poll rebuilds — mid-watch mutations
      // surface exactly as before, but an idle or paging cursor stops
      // re-executing the whole version-diff subtree on every getMore.
      // Unpersisted when a rebuild replaces it and when the cursor
      // retires.
      @volatile var frame: DataFrame = null
      @volatile var frameSig: String = null
    }

    private final class Cursor(val ns: String,
                               var rows: Iterator[org.apache.spark.sql.Row],
                               var schema: org.apache.spark.sql.types.StructType,
                               var batchSize: Int,
                               val tail: Option[ChangeTail] = None,
                               val capTail: Option[CapTail] = None) {
      @volatile var lastUsed: Long = System.nanoTime()
      // pin: mongod rejects a getMore for a cursor another operation is
      // already driving ("cursor in use", code 281) — the shared rows
      // iterator must never be pulled from two connections at once
      val pinned = new java.util.concurrent.atomic.AtomicBoolean(false)
    }
    private val cursors =
      new java.util.concurrent.ConcurrentHashMap[Long, Cursor]()

    /** Remove cursor `id` and unpersist the event frame it pins; false
      * when no such cursor is open. Every cursor removal goes through
      * here. */
    private def retire(id: Long): Boolean = {
      val c = cursors.remove(id)
      if (c != null) c.tail.foreach(t => release(t.frame))
      c != null
    }

    /** Unpersist a [[tailFrame]]: its plan is the checkpointed RDD. */
    private def release(frame: DataFrame): Unit =
      if (frame != null) frame.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking = false): Unit
        case _ => ()
      }

    /** Retryable-write transaction log: per session (lsid), the last
      * 4096 (txnNumber → the acknowledged REPLY, byte-exact) — enough
      * to absorb a whole replayed micro-batch (mongod keeps one record
      * per session; the wider window is this stand-in's documented
      * extension, because a Spark task replay re-sends EVERY command of
      * the partition, not just the failed one). Storing the full reply
      * (not just n) lets update/delete replays return their original
      * nModified/upserted shape without re-applying. */
    private final class TxnLog {
      private val m =
        new java.util.LinkedHashMap[java.lang.Long, Array[Byte]](
          16, 0.75f, false) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[java.lang.Long, Array[Byte]])
              : Boolean = size > 4096
        }
      def get(t: Long): Option[Array[Byte]] =
        m.synchronized(Option(m.get(t)))
      def put(t: Long, reply: Array[Byte]): Unit =
        m.synchronized { m.put(t, reply): Unit }
    }
    private val txnLog =
      new java.util.concurrent.ConcurrentHashMap[String, TxnLog]()

    // per-collection monitors: serialize preload refreshes and CRUD
    // writes per collection WITHOUT holding any ConcurrentHashMap bin
    // lock across Spark calls (monitors are tiny and never collected —
    // the store has a bounded set of collection names)
    private val collMonitors =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    private def collMonitor(coll: String): Object =
      collMonitors.computeIfAbsent(coll, _ => new Object)

    /** {lsid, txnNumber} of a retryable write, when the command carries
      * one (mongod: both or neither). */
    private def sessionOf(fields: Map[String, JValue])
        : Option[(String, Long)] = fields.get("lsid") match {
      case Some(JObject(lo)) =>
        val sid = lo.collectFirst { case ("id", JString(x)) => x }
          .getOrElse(throw new IllegalArgumentException("lsid needs an id"))
        val txn = fields.get("txnNumber") match {
          case Some(JLong(t)) => t
          case Some(JInt(t)) => t.toLong
          case _ => throw new IllegalArgumentException(
            "lsid without txnNumber (retryable writes need both)")
        }
        Some((sid, txn))
      case None => None
      case Some(other) => throw new IllegalArgumentException(
        s"lsid must be a document, got $other")
    }

    /** The logged reply for a replayed (lsid, txnNumber), if any. */
    private def sessionReplay(session: Option[(String, Long)])
        : Option[Array[Byte]] =
      session.flatMap { case (sid, txn) =>
        txnLog.computeIfAbsent(sid, _ => new TxnLog).get(txn)
      }

    /** Log the reply under the session's (lsid, txnNumber) and return
      * it — the write side of the retryable contract. */
    private def sessionAck(session: Option[(String, Long)],
                           reply: Array[Byte]): Array[Byte] = {
      session.foreach { case (sid, txn) =>
        txnLog.computeIfAbsent(sid, _ => new TxnLog).put(txn, reply)
      }
      reply
    }

    /** Views are read-only (mongod's CommandNotSupportedOnView). */
    private def requireNotView(coll: String, op: String): Unit =
      if (store.isView(coll)) throw new IllegalArgumentException(
        s"$op: '$coll' is a view — views are read-only")

    // ==== multi-document transactions (startTransaction /
    // autocommit:false / commitTransaction — the session-spanning
    // protocol every driver's withTransaction() speaks) ====
    //
    // Isolation is OPTIMISTIC (commit-time backward validation), the
    // natural fit for an engine whose every commit is already an
    // atomic staged swap: reads inside the transaction see the live
    // collection composed with this transaction's own staged writes
    // (read-your-writes) as ONE lazy plan per collection; nothing
    // lands in the store until commitTransaction, which re-stamps
    // every touched collection under the write monitors and refuses
    // with WriteConflict + TransientTransactionError (the label
    // driver retry loops key on) if any other writer committed in
    // between — first committer wins. A validated commit applies each
    // written collection's overlay as one staged swap, so change
    // streams observe the transaction's effects at commit time in
    // commit order (mongod semantics) and a crash mid-commit leaves
    // every collection wholly pre- or post-image. Validation reads
    // file-listing metadata only (DocStore.contentStamp), never data
    // bytes — a 100 TB collection validates in milliseconds.
    //
    // State is keyed by lsid and spans connections (drivers may send
    // each op of one transaction on a different socket; mongod's
    // contract is session-scoped). One transaction per session; a new
    // txnNumber supersedes the last.
    private final class TxnState(val lsid: String, val txnNumber: Long) {
      val startNanos: Long = System.nanoTime()
      var status: String = "active" // active | committed | aborted
      // collection -> contentStamp at FIRST touch; reads validate too,
      // so a validated transaction is serializable, not merely
      // write-write safe (Kung–Robinson backward validation)
      val stamps = scala.collection.mutable.LinkedHashMap[String, String]()
      // collection -> composed overlay plan (written collections only)
      val overlays =
        scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    }
    private val activeTxns =
      new java.util.concurrent.ConcurrentHashMap[String, TxnState]()

    private def transientErr(msg: String, code: Int,
                             codeName: String): CommandError =
      new CommandError(msg, code, codeName,
        Seq("TransientTransactionError"))

    /** Resolve (or open) the transaction a command carrying
      * `autocommit: false` runs inside. Commands that never execute
      * inside a transaction (DDL, admin) refuse with mongod's
      * OperationNotSupportedInTransaction. */
    private def txnFor(fields: Map[String, JValue],
                       cmdName: String): Option[TxnState] = {
      val start = fields.get("startTransaction").contains(JBool(true))
      if (!fields.get("autocommit").contains(JBool(false))) {
        if (start) throw new IllegalArgumentException(
          "startTransaction requires autocommit: false")
        return None
      }
      // commit/abort/getMore manage their own state lookup (a getMore
      // may legally drain a cursor after its transaction finished)
      if (Set("commitTransaction", "abortTransaction",
              "getMore")(cmdName)) return None
      if (!Set("find", "aggregate", "insert", "update", "delete",
               "findAndModify", "distinct", "count")(cmdName))
        throw new CommandError(
          s"cannot run '$cmdName' inside a multi-document transaction",
          263, "OperationNotSupportedInTransaction")
      val (sid, txn) = sessionOf(fields).getOrElse(
        throw new IllegalArgumentException(
          "autocommit: false requires lsid + txnNumber"))
      val cur = activeTxns.get(sid)
      if (start) {
        if (cur != null && cur.txnNumber == txn)
          throw (cur.status match {
            case "active" => new CommandError(
              s"transaction $txn is already in progress on this session",
              117, "ConflictingOperationInProgress")
            case s => transientErr(
              s"cannot restart transaction $txn: it has been $s " +
                "(transaction numbers are single-use; start a new one)",
              225, "TransactionTooOld")
          })
        if (cur != null && cur.txnNumber > txn)
          throw transientErr(
            s"transaction number $txn is older than this session's " +
              s"latest (${cur.txnNumber})", 225, "TransactionTooOld")
        val t = new TxnState(sid, txn)
        activeTxns.put(sid, t): Unit
        Some(t)
      } else {
        if (cur == null || cur.txnNumber != txn || cur.status != "active")
          throw transientErr(
            s"no transaction $txn in progress on this session " +
              "(commands after the first need autocommit: false " +
              "WITHOUT startTransaction)", 251, "NoSuchTransaction")
        Some(cur)
      }
    }

    /** The transaction's view of a collection: its own staged overlay
      * if it wrote, else the live collection — STAMPED at first touch
      * so commit validation covers reads as well as writes. */
    private def txnRead(txn: TxnState, coll: String): DataFrame =
      txn.overlays.getOrElse(coll, {
        if (store.isView(coll)) throw new CommandError(
          s"cannot read view '$coll' inside a multi-document " +
            "transaction (resolve the view outside, or query its base)",
          263, "OperationNotSupportedInTransaction")
        if (!txn.stamps.contains(coll))
          txn.stamps(coll) = store.contentStamp(coll)
        store.read(coll)
      })

    /** Driver-side snapshot of a capped collection in insertion order:
      * the batch files decoded directly (budget-bounded by
      * construction — a capped collection can never exceed its cap),
      * with ONE retry when eviction deletes a file between the listing
      * and the read (the same race a Spark range-scan would DIE on:
      * retention racing readers, Kafka's deleted-segment problem —
      * a snapshot re-list simply starts after the eviction). */
    private def cappedSnapshot(coll: String)
        : (Seq[org.apache.spark.sql.Row],
           org.apache.spark.sql.types.StructType) = {
      // the SCHEMA probe races eviction too: an undeclared capped
      // collection infers its schema with a distributed job over the
      // batch files, and a file evicted between listing and task open
      // surfaces as a SparkException CAUSED BY FileNotFoundException
      // (not a raw FNF) — so the whole (schema, rows) pair retries
      // together, and the match walks the cause chain
      // bounded cause walk (16 links guards against cyclic chains);
      // fatal VM errors are never retried (NonFatal at the catch site)
      def isEvictionRace(t: Throwable): Boolean = {
        var c = t
        var depth = 0
        while (c != null && depth < 16) {
          if (c.isInstanceOf[java.io.FileNotFoundException]) return true
          c = c.getCause
          depth += 1
        }
        false
      }
      def attempt(): (Seq[org.apache.spark.sql.Row],
                      org.apache.spark.sql.types.StructType) = {
        val schema = store.read(coll).schema
        val rows = store.cappedFiles(coll).flatMap { case (name, _, _, _) =>
          val p = new org.apache.hadoop.fs.Path(store.path(coll), name)
          val in = p.getFileSystem(
            spark.sparkContext.hadoopConfiguration).open(p)
          try graft.bson.BsonBinary.documents(in)
            .map(n => graft.bson.DocDecoder
              .decodeStruct(n, schema, strict = false)
              : org.apache.spark.sql.Row).toVector
          finally in.close()
        }
        (rows, schema)
      }
      var tries = 3
      while (true) {
        tries -= 1
        try return attempt()
        catch {
          case scala.util.control.NonFatal(e)
              if isEvictionRace(e) && tries > 0 =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .info(s"capped snapshot of '$coll' raced eviction " +
                s"(${e.getClass.getSimpleName}); retrying ($tries left)")
        }
      }
      sys.error("unreachable")
    }

    /** Read base for the query commands: capped collections serve a
      * driver-side snapshot (a Spark scan over their files would race
      * head eviction — a file deleted between listing and read kills
      * the task; the snapshot re-lists instead, and its size is
      * bounded by the cap budget by construction); everything else is
      * the normal view-resolving scan. */
    private def readBase(coll: String): DataFrame =
      if (store.cappedSpec(coll).isDefined && store.exists(coll)) {
        val (rows, schema) = cappedSnapshot(coll)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      } else store.readOrView(coll)

    /** An op failing inside a transaction aborts it (mongod contract:
      * the driver must not try to commit a broken transaction). */
    private def inTxn[T](txn: Option[TxnState])(f: => T): T =
      try f catch {
        case scala.util.control.NonFatal(e) =>
          txn.foreach(_.status = "aborted"); throw e
      }

    /** Nested per-collection monitors in sorted order (deadlock-free:
      * every committer acquires in the same order). */
    private def withMonitors[T](colls: List[String])(f: => T): T =
      colls match {
        case Nil => f
        case c :: rest => collMonitor(c).synchronized(withMonitors(rest)(f))
      }

    /** After a CRUD write: a preloaded LocalRelation for the collection
      * is stale — re-materialize (CRUD handlers already run Spark jobs,
      * so this is a driver-client context; see the preload comment). */
    private def refreshPreload(coll: String): Unit =
      collMonitor(coll).synchronized {
        if (localRel.containsKey(coll))
          localRel.put(coll, materialize(coll)): Unit
      }

    /** One `updates` array entry: returns (nMatched, nModified,
      * upserted _id if an upsert-insert ran). The update lowers to a
      * single CASE projection (UpdateOps) over one scan; matched /
      * modified counts price as one aggregate over the same scan. */
    private def applyUpdateSpec(coll: String, q: JValue, u: JValue,
                                multi: Boolean, upsert: Boolean,
                                arrayFilters: JValue = JNothing,
                                txn: Option[TxnState] = None)
        : (Long, Long, Option[JValue]) = {
      import org.apache.spark.sql.functions.{col, count, lit, when}
      requireNotView(coll, "update")
      if (!store.exists(coll)) {
        if (!upsert) return (0L, 0L, None)
        throw new IllegalArgumentException(
          s"upsert into missing collection '$coll': the fixed-schema " +
            "engine cannot infer a schema from the update document — " +
            "create the collection first (insert or DocStore.write)")
      }
      // inside a transaction reads see the overlay and writes stage a
      // new overlay (nothing lands until commitTransaction)
      def readColl(c: String): DataFrame =
        txn.map(txnRead(_, c)).getOrElse(store.read(c))
      def writeColl(df: DataFrame, c: String): Unit = txn match {
        case Some(t) => t.overlays(c) = df
        case None => collMonitor(c).synchronized { store.write(df, c) }
      }
      val base = readColl(coll)
      val compiled = graft.mql.UpdateOps.compile(u, base.schema, arrayFilters)
      // MQL match semantics: a null/UNKNOWN predicate is "does not
      // match" — never let SQL three-valued logic leak a null cond;
      // withSchema gives the filter its implicit array-traversal
      // semantics ({tags: "x"} is containment on an array column)
      val cond0 = org.apache.spark.sql.functions.coalesce(
        FilterCompiler.withSchema(Some(base.schema))(
          FilterCompiler.compile(q)), lit(false))
      val cond =
        if (multi) cond0
        else {
          // single-doc update: with ≤1 match the filter itself targets
          // the document (and an upsert miss needs no _id at all)
          if (base.where(cond0).limit(2).count() <= 1) cond0
          else {
            // several matches: narrow to the first matching _id (the
            // engine's row-identity contract; mongod picks one doc the
            // same unordered way)
            if (!base.columns.contains("_id"))
              throw new IllegalArgumentException(
                "update with multi:false over several matching " +
                  "documents needs an _id column to target one (use " +
                  "multi:true for set-based updates)")
            val one = base.where(cond0).select(col("_id")).limit(1)
              .collect()
            col("_id") === lit(one(0).get(0))
          }
        }
      val (updated, modifiedPred) =
        graft.mql.UpdateOps.applyTo(base, cond, compiled)
      val counts = base.select(
        count(when(cond, lit(1))).as("m"),
        count(when(modifiedPred, lit(1))).as("mod")).head()
      val (m, mod) = (counts.getLong(0), counts.getLong(1))
      if (m == 0 && upsert) {
        val row = graft.mql.UpdateOps.upsertRow(spark, base.schema, q,
          compiled)
        val idVal: JValue =
          if (base.columns.contains("_id"))
            decodeDoc(graft.bson.BsonBinary.encodeRow(
              row.collect()(0), row.schema)).obj.toMap
              .getOrElse("_id", JNull)
          else JNull
        writeColl(readColl(coll).unionByName(row), coll)
        (0L, 0L, Some(idVal))
      } else {
        if (mod > 0) writeColl(updated, coll)
        (m, mod, None)
      }
    }

    /** One `deletes` array entry: returns how many documents went. */
    private def applyDeleteSpec(coll: String, q: JValue, limit: Int,
                                txn: Option[TxnState] = None): Long = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not}
      requireNotView(coll, "delete")
      if (!store.exists(coll)) return 0L
      def writeColl(df: DataFrame): Unit = txn match {
        case Some(t) => t.overlays(coll) = df
        case None => collMonitor(coll).synchronized { store.write(df, coll) }
      }
      val base = txn.map(txnRead(_, coll)).getOrElse(store.read(coll))
      val cond = coalesce(FilterCompiler.withSchema(Some(base.schema))(
        FilterCompiler.compile(q)), lit(false))
      if (limit == 0) {
        val m = base.where(cond).count()
        if (m > 0) writeColl(base.where(not(cond)))
        m
      } else {
        if (!base.columns.contains("_id"))
          throw new IllegalArgumentException(
            "delete with limit:1 needs an _id column to target one " +
              "document (use limit:0 for set-based deletes)")
        val one = base.where(cond).select(col("_id")).limit(1).collect()
        if (one.isEmpty) 0L
        else {
          writeColl(base.where(not(col("_id") <=> lit(one(0).get(0)))))
          1L
        }
      }
    }

    /** mongod's findAndModify: select ONE document (query + sort),
      * remove it or apply an update, return the pre-image (default) or
      * post-image (`new: true`), optionally projected through `fields`.
      * Reply: `{value, lastErrorObject: {n, updatedExisting[, upserted]},
      * ok}`. */
    private def runFindAndModify(coll: String,
                                 fields: Map[String, JValue],
                                 txn: Option[TxnState] = None): Array[Byte] = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not}
      requireNotView(coll, "findAndModify")
      def readColl(): DataFrame =
        txn.map(txnRead(_, coll)).getOrElse(store.read(coll))
      def writeColl(df: DataFrame): Unit = txn match {
        case Some(t) => t.overlays(coll) = df
        case None => collMonitor(coll).synchronized { store.write(df, coll) }
      }
      val q = fields.getOrElse("query", JObject(Nil))
      val remove = fields.get("remove").contains(JBool(true))
      val update = fields.get("update")
      val returnNew = fields.get("new").contains(JBool(true))
      val upsert = fields.get("upsert").contains(JBool(true))
      if (remove == update.isDefined) throw new IllegalArgumentException(
        "findAndModify needs exactly one of 'remove' or 'update'")
      if (remove && returnNew) throw new IllegalArgumentException(
        "findAndModify: 'new: true' with 'remove' has no post-image")
      // include-style projection: named fields come back, _id rides
      // along unless explicitly excluded ({_id: 0}) — find's contract
      val (projection, idExcluded): (Option[List[String]], Boolean) =
        fields.get("fields") match {
          case Some(JObject(po)) =>
            val keep = po.collect {
              case (n, JInt(i)) if i == 1 => n
              case (n, JBool(true)) => n
            }
            val noId = po.exists {
              case ("_id", JInt(z)) => z == 0
              case ("_id", JBool(false)) => true
              case _ => false
            }
            (Some(keep), noId)
          case Some(other) => throw new IllegalArgumentException(
            s"findAndModify fields must be a document, got $other")
          case None => (None, false)
        }
      def docReply(doc: JValue, n: Int, updatedExisting: Boolean,
                   upsertedId: Option[JValue] = None): Array[Byte] = {
        val value = (doc, projection) match {
          case (JObject(fs), Some(keep)) =>
            JObject(fs.filter { case (k, _) =>
              keep.contains(k) || (k == "_id" && !idExcluded) })
          case (v, _) => v
        }
        encodeDoc(JObject(List(
          "value" -> value,
          "lastErrorObject" -> JObject(List(
            "n" -> JInt(n),
            "updatedExisting" -> JBool(updatedExisting)) ++
            upsertedId.map(id => "upserted" -> id).toList),
          "ok" -> JDouble(1.0))))
      }
      if (!store.exists(coll)) {
        if (!(upsert && update.isDefined))
          return docReply(JNull, 0, updatedExisting = false)
        throw new IllegalArgumentException(
          s"upsert into missing collection '$coll': create it first " +
            "(fixed-schema engine)")
      }
      val base = readColl()
      val cond = coalesce(FilterCompiler.withSchema(Some(base.schema))(
        FilterCompiler.compile(q)), lit(false))
      val sorted = fields.get("sort") match {
        case Some(JObject(ss)) =>
          base.where(cond).orderBy(ss.map {
            case (f, JInt(d)) if d == 1 => col(f).asc
            case (f, JInt(d)) if d == -1 => col(f).desc
            case (f, other) => throw new IllegalArgumentException(
              s"findAndModify sort.$f must be 1 or -1, got $other")
          }: _*)
        case None => base.where(cond)
        case Some(other) => throw new IllegalArgumentException(
          s"findAndModify sort must be a document, got $other")
      }
      val one = sorted.limit(1).collect()
      if (one.isEmpty) {
        if (upsert && update.isDefined) {
          val compiled = graft.mql.UpdateOps.compile(update.get, base.schema)
          val row = graft.mql.UpdateOps.upsertRow(spark, base.schema, q,
            compiled)
          val inserted = row.collect()(0)
          writeColl(readColl().unionByName(row))
          val doc = decodeDoc(
            graft.bson.BsonBinary.encodeRow(inserted, row.schema))
          val idVal = doc.obj.toMap.getOrElse("_id", JNull)
          return docReply(if (returnNew) doc else JNull, 1,
            updatedExisting = false, upsertedId = Some(idVal))
        }
        return docReply(JNull, 0, updatedExisting = false)
      }
      val pre = one(0)
      if (!base.columns.contains("_id")) throw new IllegalArgumentException(
        "findAndModify needs an _id column to target one document")
      val idv = pre.get(pre.fieldIndex("_id"))
      val target = col("_id") <=> lit(idv)
      val preDoc = decodeDoc(graft.bson.BsonBinary.encodeRow(pre, base.schema))
      if (remove) {
        writeColl(base.where(not(target)))
        docReply(preDoc, 1, updatedExisting = false)
      } else {
        val compiled = graft.mql.UpdateOps.compile(update.get, base.schema,
          fields.getOrElse("arrayFilters", JNothing))
        val (updated, _) = graft.mql.UpdateOps.applyTo(base, target, compiled)
        val postRows = updated.where(col("_id") <=> lit(idv)).collect()
        writeColl(updated)
        val doc =
          if (returnNew)
            decodeDoc(graft.bson.BsonBinary.encodeRow(
              postRows(0), updated.schema))
          else preDoc
        docReply(doc, 1, updatedExisting = true)
      }
    }

    /** Open-cursor count — observability for specs (a real mongod
      * reports this through serverStatus.metrics.cursor). */
    def openCursors: Int = cursors.size

    // rendered command documents in arrival order — spec observability
    // for containment contracts (did the residual/limit cross the
    // wire?); capped so a long-lived stand-in cannot grow unbounded
    private val reqLog =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private[sources] def requests: Seq[String] = {
      import scala.jdk.CollectionConverters._
      reqLog.asScala.toSeq
    }
    private def logRequest(cmd: JObject): Unit =
      if (reqLog.size < 100000)
        reqLog.add(org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(cmd))): Unit

    /** Collections currently served from preloaded LocalRelations —
      * observability for specs pinning the job-free insert refresh. */
    private[sources] def preloadedCollections: Set[String] = {
      import scala.jdk.CollectionConverters._
      localRel.keySet().asScala.toSet
    }

    /** Evict cursors idle past the timeout — mongod's
      * cursorTimeoutMillis reaper, run opportunistically per request
      * (a map walk over the handful of live cursors, not a thread). */
    private def sweepCursors(): Unit = {
      val deadline = System.nanoTime() - cursorTimeoutMillis * 1000000L
      cursors.forEach((id, c) => if (c.lastUsed < deadline) retire(id): Unit)
      // mongod's transactionLifetimeLimitSeconds (default 60): an
      // active transaction left open past the limit aborts server-side
      // — its staged overlays drop, and the session's next touch or
      // commit answers NoSuchTransaction (the driver's retry loop
      // starts over). Bounds both orphaned-lock risk and the memory of
      // abandoned overlays.
      val txnDeadline =
        System.nanoTime() - txnLifetimeSeconds * 1000000000L
      val ti = activeTxns.values().iterator()
      while (ti.hasNext) {
        val t = ti.next()
        if (t.status == "active" && t.startNanos < txnDeadline)
          t.status = "aborted"
      }
    }

    def port: Int = socket.getLocalPort

    // serverStatus observability: real counters, not stubs — every
    // handled command ticks its opcounter, every live connection is in
    // `current`
    private val serverStartNanos = System.nanoTime()
    private val liveConnections =
      new java.util.concurrent.atomic.AtomicInteger(0)
    private val totalConnections =
      new java.util.concurrent.atomic.AtomicLong(0L)
    private val opcounters =
      new java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.atomic.AtomicLong]()
    private def countOp(k: String): Unit = {
      opcounters.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.AtomicLong())
        .incrementAndGet(): Unit
    }

    // ---- logical cluster time (causal-consistency gossip) ----
    // One packed (seconds << 32 | increment) counter, advanced on
    // every write command; every reply carries it as operationTime +
    // $clusterTime (zero-signature — the keyless single-member form),
    // which is what lets a driver's causally-consistent session chain
    // afterClusterTime reads across connections.
    private val clusterClock =
      new java.util.concurrent.atomic.AtomicLong(0L)
    private def tickClusterTime(): Unit = {
      clusterClock.updateAndGet { cur =>
        val now = System.currentTimeMillis() / 1000L
        if (now > (cur >>> 32)) (now << 32) | 1L else cur + 1L
      }: Unit
    }
    private def clusterTs(): JValue = {
      val cur = clusterClock.updateAndGet(c =>
        if (c == 0L) (System.currentTimeMillis() / 1000L) << 32 | 1L
        else c)
      JObject(List("$timestamp" -> JObject(List(
        "t" -> JLong(cur >>> 32), "i" -> JLong(cur & 0xFFFFFFFFL)))))
    }

    /** Splice operationTime + $clusterTime into a reply document
      * (byte-level: grow the length prefix, insert the elements before
      * the terminator — no decode/re-encode of the reply). */
    private def gossip(reply: Array[Byte]): Array[Byte] = {
      val ts = clusterTs()
      val extra = new ByteArrayOutputStream(96)
      writeElement(extra, "operationTime", ts)
      writeElement(extra, "$clusterTime", JObject(List(
        "clusterTime" -> ts,
        "signature" -> JObject(List(
          "hash" -> JObject(List("$binary" -> JString(
            java.util.Base64.getEncoder.encodeToString(
              new Array[Byte](20))))),
          "keyId" -> JLong(0L))))))
      val out = new ByteArrayOutputStream(reply.length + extra.size)
      writeInt(out, reply.length + extra.size)
      out.write(reply, 4, reply.length - 5)
      extra.writeTo(out)
      out.write(0)
      out.toByteArray
    }

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val conn = socket.accept()
          val w = new Thread(() => {
            liveConnections.incrementAndGet(): Unit
            totalConnections.incrementAndGet(): Unit
            try serve(conn)
            catch { case scala.util.control.NonFatal(e) =>
              if (running) System.err.println(s"[opmsg] connection failed: $e") }
            finally { liveConnections.decrementAndGet(); conn.close() }
          }, "graft-opmsg-worker")
          w.setDaemon(true); w.start()
        } catch {
          case _: java.net.SocketException => ()
          case scala.util.control.NonFatal(e) =>
            if (running) System.err.println(s"[opmsg] accept failed: $e")
        }
      }
    }, "graft-opmsg-server")
    acceptor.setDaemon(true)
    acceptor.start()

    /** Outbound form of a change tail's token: engine format, or the
      * mongod KeyString hex when the cursor opened with
      * `tokenFormat: "mongod"`. */
    private def outToken(t: ChangeTail): String =
      if (t.mongodTokens) KeyString.fromEngine(t.lastToken, t.coll)
      else t.lastToken

    private def pull(c: Cursor): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var n = 0
      while (n < c.batchSize && c.rows.hasNext &&
             !c.tail.exists(_.invalidated)) {
        var row = c.rows.next()
        c.tail.foreach { t =>
          t.lastToken = tokenOf(row, c.schema)
          // invalidate is terminal — serve it, then stop (nothing may
          // follow it in a change stream; the reply closes the cursor)
          val oi = c.schema.fieldNames.indexOf("operationType")
          if (oi >= 0 && !row.isNullAt(oi) && row.get(oi) == "invalidate")
            t.invalidated = true
          // mongod token format: rewrite the served document's
          // _id._data (internal plans keep engine tokens — the
          // conversion happens only at the reply boundary)
          if (t.mongodTokens) {
            val ii = c.schema.fieldNames.indexOf("_id")
            if (ii >= 0) row = org.apache.spark.sql.Row(
              row.toSeq.updated(ii, org.apache.spark.sql.Row(
                KeyString.fromEngine(t.lastToken, t.coll))): _*)
          }
        }
        out += graft.bson.BsonBinary.encodeRow(row, c.schema)
        n += 1
      }
      out.result()
    }

    private def tokenOf(row: org.apache.spark.sql.Row,
                        schema: org.apache.spark.sql.types.StructType): String = {
      val idIdx = schema.fieldIndex("_id")
      val idType = schema(idIdx).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      row.getStruct(idIdx).getString(idType.fieldIndex("_data"))
    }

    /** `$changeStream` event frame: the versioned store's history past
      * `after`, diffed into mongod-shaped change documents
      * ([[graft.sinks.DocStore.changeEvents]]), each stamped with its
      * resume token `{_id: {_data}}` and ordered BY token — the total
      * order pagination and `resumeAfter` both filter on. The rest of
      * the caller's pipeline applies to the change documents and must
      * preserve `_id` (mongod's ChangeStreamFatalError contract —
      * without the token the cursor cannot resume). */
    /** Sentinel collection name for a db-level watch (`aggregate: 1`,
      * mongod's `db.watch()`). */
    private val DbWatch = "\u0000db-watch"

    private def changeStreamBase(coll: String, keyField: String,
                                 after: String): DataFrame = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{StructType, StructField,
        StringType, ArrayType, LongType}
      val toType = StructType(Seq(StructField("db", StringType),
        StructField("coll", StringType)))
      def frame(c: String, dbLevel: Boolean): DataFrame = {
        val ddl = store.ddlEvents(c)
        // a renamed-away collection may have no data frame at all (the
        // history moved with it) — its change stream is then the
        // journaled DDL alone, on a stub change-doc schema. The
        // fallback fires ONLY when the collection is truly gone
        // (neither live nor retained): a genuine changeEvents error on
        // a live collection must surface, even when an old journal
        // entry shares the name (drop + recreate reuses names)
        val gone = !store.exists(c) && store.versions(c).isEmpty
        val ev =
          (try Some(store.changeEvents(c, keyField)) catch {
            case scala.util.control.NonFatal(_) if ddl.nonEmpty && gone =>
              None
          }).map(_.withColumn("to", lit(null).cast(toType)))
            .getOrElse(spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              StructType(Seq(
                StructField("operationType", StringType),
                StructField("documentKey", StringType),
                StructField("fullDocument",
                  StructType(Seq(StructField("_", StringType)))),
                StructField("fullDocumentBeforeChange",
                  StructType(Seq(StructField("_", StringType)))),
                StructField("updatedFields", ArrayType(StringType)),
                StructField("txnVersion", LongType),
                StructField("to", toType)))))
        val all =
          if (ddl.isEmpty) ev
          else {
            // DDL rows in the data frame's column order. A collection
            // watch also carries the terminal invalidate (mongod
            // closes the cursor there); db-level watches survive
            // collection DDL — drop/rename events only, no invalidate
            val rows = ddl.flatMap { e =>
              def mk(op: String, txn: Long, to: Option[String]) =
                org.apache.spark.sql.Row(ev.schema.fieldNames.map {
                  case "operationType" => op
                  case "txnVersion" => txn
                  case "to" =>
                    to.map(t => org.apache.spark.sql.Row(db, t)).orNull
                  case _ => null
                }.toSeq: _*)
              mk(e.op, e.txnVersion, e.to) ::
                (if (dbLevel) Nil
                 else List(mk("invalidate", e.txnVersion + 1, None)))
            }
            ev.unionByName(spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), ev.schema))
          }
        // token = (txnVersion, coll, documentKey) — versions are
        // per-collection counters, so the cross-collection order is
        // deterministic (what resume needs), not causal; DDL events
        // have no documentKey (empty suffix keeps the token total)
        val tok = concat(
          lpad(col("txnVersion").cast("string"), 19, "0"),
          lit("/"), lit(c), lit("/"),
          coalesce(col("documentKey").cast("string"), lit("")))
        all.withColumn("_id", struct(tok.as("_data")))
          .withColumn("ns", struct(lit(db).as("db"), lit(c).as("coll")))
      }
      val ev =
        if (coll != DbWatch) frame(coll, dbLevel = false)
        else {
          // db-level: every collection with retired history (a
          // collection with no versions yet has no diffable changes);
          // each must carry the key column — loud refusal otherwise.
          // Dropped collections keep their versions, so their retained
          // transitions + drop event stay visible; a rename moves the
          // history to the new name (the old name's rename event is
          // visible on a collection-level watch of the old name).
          val watchable =
            (store.collections() ++ store.ddlAll().map(_.coll))
              .distinct.sorted.filter(c => store.versions(c).nonEmpty)
          if (watchable.isEmpty) throw new IllegalArgumentException(
            "$changeStream (db-level): no versioned collections to watch")
          val base =
            watchable.map(frame(_, dbLevel = true)).reduce(_ unionByName _)
          // dropDatabase is THE db-level invalidation (collection DDL
          // never invalidates a db watch): the journaled db event
          // surfaces as dropDatabase + terminal invalidate, tokens past
          // every per-collection event (mongod's event order: each
          // collection's drop, then dropDatabase, then invalidate)
          val dbDdl = store.ddlAll().filter(_.op == "dropDatabase")
          if (dbDdl.isEmpty) base
          else {
            val rows = dbDdl.flatMap { e =>
              def mk(op: String, txn: Long) =
                org.apache.spark.sql.Row(base.schema.fieldNames.map {
                  case "operationType" => op
                  case "txnVersion" => txn
                  case "_id" => org.apache.spark.sql.Row(f"$txn%019d/*/")
                  case "ns" => org.apache.spark.sql.Row(db, null)
                  case _ => null
                }.toSeq: _*)
              List(mk("dropDatabase", e.txnVersion),
                mk("invalidate", e.txnVersion + 1))
            }
            // the data frames' _id/ns structs are built from lit()
            // (non-nullable); the db rows carry nulls (no coll, no
            // documentKey) — a deep-nullable schema copy keeps the
            // LocalRelation honest, and the union widens nullability
            def deepNullable(dt: org.apache.spark.sql.types.DataType)
                : org.apache.spark.sql.types.DataType = dt match {
              case st: org.apache.spark.sql.types.StructType =>
                org.apache.spark.sql.types.StructType(st.fields.map(f =>
                  f.copy(dataType = deepNullable(f.dataType),
                    nullable = true)))
              case at: org.apache.spark.sql.types.ArrayType =>
                at.copy(elementType = deepNullable(at.elementType),
                  containsNull = true)
              case other => other
            }
            val nullableSchema = deepNullable(base.schema)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            base.unionByName(spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), nullableSchema))
          }
        }
      ev.where(col("_id._data") > lit(after))
        .select(Seq("_id", "operationType", "ns", "documentKey",
          "fullDocument", "fullDocumentBeforeChange", "updatedFields",
          "txnVersion", "to").map(col): _*)
    }

    /** The serving half of the change stream: the rest of the caller's
      * pipeline plus the token order, applied to a (possibly pinned)
      * base frame, past `after`. Base frames are built with the token
      * current at BUILD time and tokens only advance, so the stronger
      * filter here keeps pagination exact. */
    private def changeStreamServe(base: DataFrame, restJson: String,
                                  after: String): DataFrame = {
      import org.apache.spark.sql.functions._
      val filtered = base.where(col("_id._data") > lit(after))
      val resolve: graft.mql.PipelineCompiler.TableResolver =
        n => store.read(n)
      val out = graft.mql.PipelineCompiler.run(filtered, restJson, resolve)
      val hasToken = out.schema.fields.find(_.name == "_id").exists(
        _.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.contains("_data")
          case _ => false
        })
      if (!hasToken) throw new IllegalArgumentException(
        "$changeStream: the pipeline must preserve the _id resume " +
          "token (mongod rejects change-stream pipelines that drop or " +
          "reshape _id)")
      out.orderBy(col("_id._data"))
    }

    /** Everything a change stream on `coll` can observe, fingerprinted
      * (db-level watches combine every journaled/live collection). */
    private def changeSig(coll: String): String =
      if (coll != DbWatch) store.changeSignature(coll)
      else (store.collections() ++ store.ddlAll().map(_.coll))
        .distinct.sorted
        .map(c => c + "=" + store.changeSignature(c)).mkString(";")

    /** The cursor's pinned event frame, rebuilt iff the store's change
      * signature moved since the last build (guide §6, incremental
      * reads). Retired snapshots are immutable and every live
      * write/append/DDL moves [[graft.sinks.DocStore.changeSignature]],
      * so between mutations the delta past the cursor's token is a
      * fixed row set — re-diffing the whole retained history (k
      * full-outer joins) on EVERY awaitData getMore was the watch
      * family's dominant cost. localCheckpoint materializes the delta
      * once per mutation epoch as distributed blocks (spills to disk,
      * never the driver heap — the bounded-collect contract is
      * untouched), truncates the per-poll plan to a small scan, and
      * stays out of the CacheManager, so a stale frame can never be
      * substituted into another cursor's fresh build. A rebuild
      * unpersists the frame it replaces; [[retire]] frees the last. */
    private def tailFrame(t: ChangeTail): DataFrame = {
      val sig = changeSig(t.coll)
      if (t.frame == null || t.frameSig != sig) {
        val old = t.frame
        t.frame = changeStreamBase(t.coll, t.keyField, t.lastToken)
          .localCheckpoint(true)
        t.frameSig = sig
        release(old)
      }
      t.frame
    }

    /** Refresh a drained tailable cursor with events past its last
      * token — the awaitData poll. Returns true when new events
      * arrived. The store read schedules Spark jobs; a change-stream
      * consumer drives from the driver (never from inside blocked scan
      * tasks), same contract as the aggregate handler. */
    private def repoll(c: Cursor): Boolean = c.tail.exists { t =>
      val df = changeStreamServe(tailFrame(t), t.restJson, t.lastToken)
      // BOUNDED: materialize at most one reply batch (token-ordered
      // limit → TakeOrderedAndProject), never the whole pending delta —
      // a watch resumed against a huge retained backlog pages through
      // getMores, each continuing from lastToken, instead of pulling
      // every event into the server's heap at once
      val rows = df.limit(c.batchSize).collect()
      maxCollectedOnce.accumulateAndGet(rows.length, math.max): Unit
      if (rows.nonEmpty) {
        c.schema = df.schema
        c.rows = rows.iterator
        true
      } else false
    }

    /** Largest single change-event materialization (rows) — spec
      * observability for the bounded-repoll contract. */
    private[sources] val maxCollectedOnce =
      new java.util.concurrent.atomic.AtomicInteger(0)

    /** Tailable-cursor position over a capped collection's append-only
      * batch files: (file nanos, docs consumed of it), plus the file's
      * doc count AT CONSUMPTION TIME — eviction only ever drops head
      * files whole or rewrites the straddling head file in place (same
      * nanos, fewer docs), so the count delta is exactly how many head
      * docs vanished. That maps an old offset into the rewritten file,
      * or proves the position itself was overwritten — mongod's
      * CappedPositionLost (code 136), the contract for a tailer that
      * fell behind the eviction frontier. */
    private final class CapTail(val coll: String,
                                var schema: org.apache.spark.sql.types.StructType,
                                val cond: Option[JValue],
                                val includes: Seq[String],
                                val excludes: Seq[String],
                                val coll8n: Option[FilterCompiler.Collation]
                                  = None) {
      var nanos: Long = -1L   // -1 = before the first file
      var offset: Int = 0     // docs consumed of that file
      var posCount: Int = 0   // that file's doc count when consumed
      var lost: Boolean = false
    }

    /** Advance a tailable cursor: serve up to ~batchSize NEW raw docs
      * past the position, decoded driver-side and run through the
      * find's filter/projection as a LocalRelation (Catalyst folds
      * filter+project into the local rows — executeCollect, no job:
      * the same saturated-scan-safe contract as the insert preload).
      * Returns true when rows were queued; `lost` marks an evicted
      * position (the caller answers CappedPositionLost). */
    private def capPoll(c: Cursor): Boolean = c.capTail.exists { t =>
      // a tailable cursor opened on a declared-but-empty capped
      // collection resolves its schema at the first insert it sees
      if (t.schema == null && store.exists(t.coll))
        t.schema = store.read(t.coll).schema
      if (t.lost || t.schema == null) false
      else {
        val files = store.cappedFiles(t.coll) // (name, nanos, count, len)
        // resolve the start point against the possibly-evicted head
        var startIdx = 0
        var startOff = 0
        var ok = true
        if (t.nanos >= 0) files.indexWhere(_._2 == t.nanos) match {
          case -1 =>
            if (t.offset < t.posCount) { t.lost = true; ok = false }
            else {
              startIdx = files.indexWhere(_._2 > t.nanos)
              if (startIdx < 0) { startIdx = files.length } // no new data
            }
          case i =>
            val droppedHead = t.posCount - files(i)._3
            if (t.offset < droppedHead) { t.lost = true; ok = false }
            else { startIdx = i; startOff = t.offset - droppedHead }
        }
        if (!ok) false
        else {
          val rows = Vector.newBuilder[org.apache.spark.sql.Row]
          var taken = 0
          var idx = startIdx
          var off = startOff
          try {
            while (taken < c.batchSize && idx < files.length) {
              val (name, nanos, count, _) = files(idx)
              if (off < count) {
                val docs = {
                  val p = new org.apache.hadoop.fs.Path(
                    store.path(t.coll), name)
                  val in = p.getFileSystem(
                    spark.sparkContext.hadoopConfiguration).open(p)
                  try graft.bson.BsonBinary.documents(in).toVector
                  finally in.close()
                }
                val want = math.min(count - off, c.batchSize - taken)
                docs.slice(off, off + want).foreach { n =>
                  rows += graft.bson.DocDecoder
                    .decodeStruct(n, t.schema, strict = false)
                  taken += 1
                }
                t.nanos = nanos; t.posCount = count; t.offset = off + want
                off = if (want == count - off) { idx += 1; 0 }
                      else off + want
              } else { idx += 1; off = 0 }
            }
          } catch {
            // a file evicted between listing and reading: the position
            // is behind the frontier — same verdict as a missing file
            case _: java.io.FileNotFoundException => t.lost = true
          }
          val raw = rows.result()
          if (t.lost || raw.isEmpty) false
          else {
            var df: org.apache.spark.sql.DataFrame =
              spark.createDataFrame(
                java.util.Arrays.asList(raw: _*), t.schema)
            t.cond.foreach { q =>
              df = df.where(org.apache.spark.sql.functions.coalesce(
                FilterCompiler.withCollation(t.coll8n)(
                  FilterCompiler.withSchema(Some(t.schema))(
                    FilterCompiler.compile(q))),
                org.apache.spark.sql.functions.lit(false)))
            }
            if (t.includes.nonEmpty)
              df = df.select(t.includes.map(df.col): _*)
            else if (t.excludes.nonEmpty) df = df.drop(t.excludes: _*)
            val out = df.collect()
            c.schema = df.schema
            c.rows = out.iterator
            out.nonEmpty
          }
        }
      }
    }

    /** Open a `$changeStream` cursor: parse the options document,
      * replay retained history past `resumeAfter` (or all of it), and
      * register a TAILABLE cursor — drained batches keep the cursor
      * id live (empty `nextBatch` + `postBatchResumeToken`); only
      * killCursors or the idle reaper closes it. `keyField` is the
      * engine extension naming the document-key column (graftdocs
      * collections have no implicit `_id`). */
    private def openChangeCursor(coll: String, opts: JValue, rest: JArray,
                                 batchSize: Int): Array[Byte] = {
      val o = opts match {
        case JObject(fs) => fs
        case other => throw new IllegalArgumentException(
          s"$$changeStream options must be a document, got $other")
      }
      var after = ""
      var resumeMode = ""
      var keyField = "_id"
      var startAt: Option[Long] = None
      var mongodTokens = false
      o.foreach {
        case (mode @ ("resumeAfter" | "startAfter"), JObject(ro)) =>
          resumeMode = mode
          after = ro.collectFirst { case ("_data", JString(s)) => s }
            .getOrElse(throw new IllegalArgumentException(
              "$changeStream: resumeAfter/startAfter needs a " +
                "{_data: <token>} document"))
        case ("startAtOperationTime", v) =>
          startAt = Some(v match {
            case JInt(m) => m.toLong
            case JLong(m) => m
            case JObject(List(("$date", JLong(m)))) => m
            case JObject(List(("$date", JInt(m)))) => m.toLong
            case other => throw new IllegalArgumentException(
              s"$$changeStream: startAtOperationTime must be epoch " +
                s"millis or {$$date}, got $other")
          })
        case ("keyField", JString(k)) => keyField = k
        // tokenFormat: "mongod" — resume tokens cross the wire as
        // KeyString hex (graft.sources.KeyString), the format a real
        // driver-side token consumer parses; "engine" (default) keeps
        // the native "%019d/coll/key" form
        case ("tokenFormat", JString("mongod")) => mongodTokens = true
        case ("tokenFormat", JString("engine")) => mongodTokens = false
        case ("tokenFormat", other) => throw new IllegalArgumentException(
          s"$$changeStream: tokenFormat must be 'engine' or 'mongod', " +
            s"got $other")
        // every change document already carries the after-image
        // (updateLookup comes free from snapshots) and the pre-image
        case ("fullDocument", JString(_)) => ()
        case ("fullDocumentBeforeChange", JString(_)) => ()
        case (k, _) => throw new IllegalArgumentException(
          s"$$changeStream: unsupported option '$k' (supported: " +
            "resumeAfter, startAfter, startAtOperationTime, keyField, " +
            "fullDocument, fullDocumentBeforeChange)")
      }
      if (mongodTokens && after.nonEmpty)
        after = KeyString.toEngine(after)
      startAt.foreach { t =>
        // wall-clock → version offset: event txnVersion v committed
        // when snapshot v-1 retired; the first v whose commit time is
        // >= t becomes the floor, encoded as a token just below v's
        // (retire times are monotone, so the find is exact)
        if (after.nonEmpty) throw new IllegalArgumentException(
          "$changeStream: startAtOperationTime cannot combine with " +
            "resumeAfter/startAfter")
        if (coll == DbWatch) throw new IllegalArgumentException(
          "$changeStream: startAtOperationTime is not supported on " +
            "db-level watches (collections retire independently — " +
            "use resumeAfter)")
        val vs = store.versions(coll)
        // each retained step (a \u2192 b) carries txnVersion b and committed
        // when a retired; pruned gaps leave retiredAt(a) defined for
        // retained a, and an unknown commit time includes conservatively
        // (replay-extra, never lose)
        val steps = (vs :+ (vs.lastOption.getOrElse(0L) + 1))
          .sliding(2).collect { case Seq(a, b) =>
            (b, store.retiredAt(coll, a)) }.toSeq
        after = steps.find { case (_, rt) => rt.forall(_ >= t) } match {
          case Some((v, _)) => f"${v - 1}%019d" + "\uffff"
          case None => f"${Long.MaxValue}%019d"
        }
      }
      // resumeAfter at/past an invalidate notification is a dead end
      // (mongod's ChangeStreamHistoryLost shape) — the stream was
      // invalidated; only startAfter may cross that token
      if (resumeMode == "resumeAfter" && coll != DbWatch &&
          after.nonEmpty) {
        val crossed = store.ddlEvents(coll).exists(e =>
          f"${e.txnVersion + 1}%019d/$coll/" <= after)
        if (crossed) throw new IllegalArgumentException(
          "$changeStream: cannot resume with resumeAfter from an " +
            "invalidate notification — use startAfter")
      }
      // the db-level twin: resumeAfter at/past the dropDatabase
      // invalidate is equally dead (only startAfter may cross it)
      if (resumeMode == "resumeAfter" && coll == DbWatch &&
          after.nonEmpty) {
        val crossed = store.ddlAll().exists(e => e.op == "dropDatabase" &&
          f"${e.txnVersion + 1}%019d/*/" <= after)
        if (crossed) throw new IllegalArgumentException(
          "$changeStream: cannot resume with resumeAfter from an " +
            "invalidate notification — use startAfter")
      }
      val restJson = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(rest))
      val t = new ChangeTail(coll, keyField, restJson, mongodTokens)
      t.lastToken = after
      val df = changeStreamServe(tailFrame(t), restJson, after)
      // same bound as repoll: ONE reply batch; the rest pages through
      // getMores from the tail's advancing lastToken
      val rowsArr = df.limit(batchSize).collect()
      maxCollectedOnce.accumulateAndGet(rowsArr.length, math.max): Unit
      val ns = if (coll == DbWatch) s"$db.$$cmd.aggregate" else s"$db.$coll"
      val c = new Cursor(ns, rowsArr.iterator, df.schema,
        batchSize, Some(t))
      val first = pull(c)
      // an invalidate in the first batch closes the cursor with it
      // (mongod: nothing follows an invalidate)
      val id =
        if (t.invalidated) { release(t.frame); 0L }
        else { val i = nextCursor.incrementAndGet(); cursors.put(i, c); i }
      buildCursorReply(id, ns, "firstBatch", first,
        postBatchResumeToken = Some(outToken(c.tail.get)))
    }

    private final class ConnState {
      var authenticated: Boolean = credential.isEmpty
      var sasl: Option[Scram.Server] = None
      var compressionNegotiated: Boolean = false
      var remote: String = "" // client address, for whatsmyuri
    }

    // commands the wire spec forbids compressing (handshake + auth)
    private val uncompressible =
      Set("hello", "isMaster", "ismaster", "saslStart", "saslContinue")

    private def serve(conn: java.net.Socket): Unit = {
      val in = new BufferedInputStream(conn.getInputStream, 1 << 16)
      val out = new BufferedOutputStream(conn.getOutputStream, 1 << 16)
      val state = new ConnState
      state.remote = String.valueOf(conn.getRemoteSocketAddress)
        .stripPrefix("/")
      var next = readFrame(in)
      while (next.isDefined) {
        val f = next.get
        sweepCursors()
        val handled =
          try {
            val cmd = decodeDoc(f.doc)
            logRequest(cmd)
            val name = cmd.obj.headOption.map(_._1).getOrElse("<empty>")
            if (f.wasCompressed && uncompressible(name))
              throw new IllegalArgumentException(
                s"$name must not arrive compressed (wire spec)")
            if (f.wasCompressed && !state.compressionNegotiated)
              throw new IllegalArgumentException(
                "OP_COMPRESSED before compression was negotiated via hello")
            if (f.exhaustAllowed && cmd.obj.exists(_._1 == "getMore") &&
                state.authenticated) {
              serveExhaust(f, cmd, out); None // wrote its own replies
            } else Some(handle(cmd, state, f.sequences))
          } catch {
            case ce: CommandError =>
              if (sys.env.contains("GRAFT_OPMSG_DEBUG")) ce.printStackTrace()
              Some(buildErrorReply(ce.getMessage, ce.code, ce.codeName,
                ce.labels))
            case scala.util.control.NonFatal(e) =>
              if (sys.env.contains("GRAFT_OPMSG_DEBUG")) e.printStackTrace()
              Some(buildErrorReply(String.valueOf(e.getMessage)))
          }
        handled.foreach(r => reply(out, f, r, f.requestId + 1000000))
        next = readFrame(in)
      }
    }

    /** The one reply writer: answers request `f` with `doc` under
      * `requestId`, mirroring the request's compression (same
      * compressor) and checksumming (negotiation gates the client ever
      * sending compressed in the first place). Every reply — success,
      * error or exhaust stream — carries the cluster-time gossip,
      * mongod-style. */
    private def reply(out: OutputStream, f: Frame, doc: Array[Byte],
                      requestId: Int, flags: Int = 0): Unit =
      writeFrame(out, requestId, f.requestId, gossip(doc), flags,
        compress = f.wasCompressed, checksum = f.wasChecksummed,
        compressor = if (f.wasCompressed) f.compressorId else CompressorZlib)

    /** Exhaust getMore (flag bit 16): stream every remaining batch as
      * replies with moreToCome set, final reply (cursor drained)
      * without it — all responding to the ONE exhaust request. A
      * refusal throws before any frame is written, so [[serve]] answers
      * it like any other command error. */
    private def serveExhaust(f: Frame, cmd: JObject,
                             out: OutputStream): Unit = {
      val fields = cmd.obj.toMap
      val id = fields("getMore") match {
        case JLong(l) => l
        case JInt(i) => i.toLong
        case other => throw new IllegalArgumentException(
          s"getMore id must be int64, got $other")
      }
      val c = cursors.get(id)
      if (c == null) throw new CommandError(
        s"cursor id $id not found", CursorNotFound, null)
      // a tailable cursor never drains — an exhaust stream over it
      // would never terminate; mongod drivers use awaitData getMore
      if (c.tail.isDefined || c.capTail.isDefined)
        throw new IllegalArgumentException(
          "exhaust is not supported on change streams " +
            "(tailable cursors never drain; drive getMore instead)")
      if (!c.pinned.compareAndSet(false, true)) throw new CommandError(
        s"cursor id $id is already in use", CursorInUse, null)
      try {
        var rid = f.requestId + 1000000
        var more = true
        while (more) {
          val batch = pull(c)
          more = c.rows.hasNext
          if (more) c.lastUsed = System.nanoTime()
          else retire(id): Unit
          reply(out, f,
            buildCursorReply(if (more) id else 0L, c.ns, "nextBatch", batch),
            rid, flags = if (more) FlagMoreToCome else 0)
          rid += 1
        }
      } finally c.pinned.set(false)
    }

    private def saslPayload(fields: Map[String, JValue]): String =
      fields.get("payload") match {
        case Some(JObject(List(("$binary", JString(b64))))) =>
          new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
        case Some(JString(s)) => s // driver convenience form
        case other => throw new IllegalArgumentException(
          s"sasl command needs a payload, got $other")
      }
    private def binPayload(s: String): JValue =
      JObject(List("$binary" -> JString(
        java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))))

    private def handle(cmd: JObject, state: ConnState,
                       sequences: Seq[(String, Seq[Array[Byte]])] = Nil)
        : Array[Byte] = {
      val fields = cmd.obj.toMap
      val cmdName = cmd.obj.headOption.map(_._1).getOrElse("")
      countOp(cmdName match {
        case "insert" => "insert"
        case "find" => "query"
        case "update" => "update"
        case "delete" => "delete"
        case "getMore" => "getmore"
        case _ => "command"
      })
      if (Set("insert", "update", "delete", "findAndModify",
              "bulkWrite", "commitTransaction", "create", "drop",
              "renameCollection", "dropDatabase",
              "convertToCapped")(cmdName))
        tickClusterTime()
      // ---- read/write concern validation: accepted (a single-member
      // primary satisfies every level and every afterClusterTime it
      // ever handed out), but VALIDATED — an unknown level or a
      // readConcern on a non-first transaction op is a driver bug
      // mongod names, and so do we
      fields.get("readConcern") match {
        case Some(JObject(rc)) =>
          rc.foreach {
            case ("level", JString(l)) =>
              if (!Set("local", "majority", "snapshot", "available",
                       "linearizable")(l))
                throw new IllegalArgumentException(
                  s"readConcern level '$l' is not recognized")
            case ("level", other) => throw new IllegalArgumentException(
              s"readConcern.level must be a string, got $other")
            case ("afterClusterTime" | "atClusterTime", _) => ()
            case (k, _) => throw new IllegalArgumentException(
              s"readConcern: unknown field '$k'")
          }
          if (fields.get("autocommit").contains(JBool(false)) &&
              !fields.get("startTransaction").contains(JBool(true)))
            throw new CommandError(
              "readConcern is only valid on the FIRST operation of a " +
                "multi-document transaction (mongod InvalidOptions)",
              72, "InvalidOptions")
        case Some(other) => throw new IllegalArgumentException(
          s"readConcern must be a document, got $other")
        case None => ()
      }
      fields.get("writeConcern") match {
        case Some(JObject(wc)) =>
          wc.foreach {
            case ("w", JInt(_) | JLong(_) | JString(_)) => ()
            case ("j", JBool(_)) => ()
            case ("wtimeout" | "wtimeoutMS", JInt(_) | JLong(_)) => ()
            case (k, v) => throw new IllegalArgumentException(
              s"writeConcern: unsupported field '$k' = $v")
          }
          if (fields.get("autocommit").contains(JBool(false)) &&
              cmdName != "commitTransaction" &&
              cmdName != "abortTransaction")
            throw new CommandError(
              "writeConcern is only valid on commitTransaction/" +
                "abortTransaction inside a multi-document transaction " +
                "(mongod InvalidOptions)", 72, "InvalidOptions")
        case Some(other) => throw new IllegalArgumentException(
          s"writeConcern must be a document, got $other")
        case None => ()
      }
      // ---- hello: the handshake (pre-auth, never compressed); its
      // compression array negotiates OP_COMPRESSED for this connection
      if (fields.contains("hello") || fields.contains("isMaster") ||
          fields.contains("ismaster")) {
        val offered = fields.get("compression") match {
          case Some(JArray(es)) => es.collect { case JString(s) => s }
          case _ => Nil
        }
        val accepted = offered.filter(n =>
          n == "zlib" || n == "snappy" || n == "zstd")
        state.compressionNegotiated = accepted.nonEmpty
        // single-member replica-set shape: real drivers gate sessions,
        // retryable writes and TRANSACTIONS on setName + primary-ness
        // (a bare standalone would make them refuse withTransaction)
        val me = s"127.0.0.1:$port"
        return encodeDoc(JObject(List(
          "isWritablePrimary" -> JBool(true),
          "helloOk" -> JBool(true),
          "setName" -> JString("graft"),
          "setVersion" -> JInt(1),
          "secondary" -> JBool(false),
          "hosts" -> JArray(List(JString(me))),
          "me" -> JString(me),
          "primary" -> JString(me),
          "logicalSessionTimeoutMinutes" -> JInt(30),
          "localTime" -> JObject(List(
            "$date" -> JLong(System.currentTimeMillis()))),
          "maxBsonObjectSize" -> JInt(MaxBsonObjectSize),
          "maxMessageSizeBytes" -> JInt(MaxMessage),
          "maxWireVersion" -> JInt(17),
          "minWireVersion" -> JInt(0)) ++
          (if (accepted.nonEmpty)
            List("compression" -> JArray(accepted.map(JString.apply)))
          else Nil) ++
          List("ok" -> JDouble(1.0))))
      }
      // ---- SCRAM-SHA-256 conversation (saslStart/saslContinue) ----
      if (fields.contains("saslStart")) {
        val (u, cred) = credential.getOrElse(throw new IllegalArgumentException(
          "authentication is not enabled on this server"))
        fields.get("mechanism") match {
          case Some(JString("SCRAM-SHA-256")) => ()
          case other => throw new IllegalArgumentException(
            s"unsupported mechanism $other (only SCRAM-SHA-256)")
        }
        val srv = new Scram.Server(u, cred)
        state.sasl = Some(srv)
        val first = srv.serverFirst(saslPayload(fields))
        return encodeDoc(JObject(List(
          "conversationId" -> JInt(1), "done" -> JBool(false),
          "payload" -> binPayload(first), "ok" -> JDouble(1.0))))
      }
      if (fields.contains("saslContinue")) {
        val srv = state.sasl.getOrElse(throw new IllegalArgumentException(
          "saslContinue without saslStart"))
        val fin = srv.serverFinal(saslPayload(fields))
        state.authenticated = true
        state.sasl = None
        return encodeDoc(JObject(List(
          "conversationId" -> JInt(1), "done" -> JBool(true),
          "payload" -> binPayload(fin), "ok" -> JDouble(1.0))))
      }
      // ---- driver-compat commands mongod answers unauthenticated ----
      if (fields.contains("ping"))
        return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
      if (fields.contains("buildInfo") || fields.contains("buildinfo"))
        return encodeDoc(JObject(List(
          "version" -> JString("7.0.0-graft"),
          "gitVersion" -> JString("graft-opmsg-standin"),
          "maxBsonObjectSize" -> JInt(MaxBsonObjectSize),
          "ok" -> JDouble(1.0))))
      // mongosh's connect-time chatter: whatsmyuri / connectionStatus /
      // getParameter / getLog — answered with the stand-in's real
      // state (client address, authenticated user, actual parameter
      // values), not canned shapes
      if (fields.contains("whatsmyuri"))
        return encodeDoc(JObject(List(
          "you" -> JString(state.remote), "ok" -> JDouble(1.0))))
      if (fields.contains("connectionStatus")) {
        val users =
          if (state.authenticated) credential.toList.map { case (u, _) =>
            JObject(List("user" -> JString(u), "db" -> JString(db)))
          } else Nil
        return encodeDoc(JObject(List(
          "authInfo" -> JObject(List(
            "authenticatedUsers" -> JArray(users),
            "authenticatedUserRoles" -> JArray(Nil))),
          "ok" -> JDouble(1.0))))
      }
      fields.get("getParameter") match {
        case Some(sel) =>
          val params: List[(String, JValue)] = List(
            "featureCompatibilityVersion" -> JObject(List(
              "version" -> JString("7.0"))),
            "transactionLifetimeLimitSeconds" ->
              JLong(txnLifetimeSeconds),
            "cursorTimeoutMillis" -> JLong(cursorTimeoutMillis),
            "maxTransactionLockRequestTimeoutMillis" -> JLong(5L))
          val all = sel == JString("*")
          val picked =
            if (all) params
            else params.filter { case (k, _) => fields.contains(k) }
          if (picked.isEmpty) throw new IllegalArgumentException(
            "getParameter: no option found to get")
          return encodeDoc(JObject(picked :+
            ("ok" -> (JDouble(1.0): JValue))))
        case None => ()
      }
      if (fields.contains("getLog"))
        return encodeDoc(JObject(List(
          "totalLinesWritten" -> JInt(0),
          "log" -> JArray(Nil),
          "ok" -> JDouble(1.0))))
      if (!state.authenticated) throw new IllegalArgumentException(
        "command requires authentication (run SCRAM-SHA-256 saslStart first)")
      // ---- endSessions: the driver retires its logical sessions — the
      // retryable-write transaction logs for those lsids go with them
      // (mongod expires session state the same way; this also bounds
      // the stand-in's memory under long-lived clients)
      fields.get("endSessions") match {
        case Some(JArray(ss)) =>
          ss.foreach {
            case JObject(so) => so.collectFirst {
              case ("id", JString(x)) => x
            }.foreach { id =>
              txnLog.remove(id): Unit
              // an unfinished transaction dies with its session
              activeTxns.remove(id): Unit
            }
            case other => throw new IllegalArgumentException(
              s"endSessions entries must be {id} documents, got $other")
          }
          return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
        case Some(other) => throw new IllegalArgumentException(
          s"endSessions needs an array, got $other")
        case None => ()
      }
      // ---- killCursors: client abandons cursors before exhaustion ----
      fields.get("killCursors") match {
        case Some(JString(_)) =>
          val ids = fields.get("cursors") match {
            case Some(JArray(es)) => es.map {
              case JLong(l) => l
              case JInt(i) => i.toLong
              case other => throw new IllegalArgumentException(
                s"killCursors ids must be int64, got $other")
            }
            case other => throw new IllegalArgumentException(
              s"killCursors needs a cursors array, got $other")
          }
          val (killed, notFound) =
            ids.partition(retire)
          return encodeDoc(JObject(List(
            "cursorsKilled" -> JArray(killed.map(JLong.apply)),
            "cursorsNotFound" -> JArray(notFound.map(JLong.apply)),
            "cursorsAlive" -> JArray(Nil),
            "cursorsUnknown" -> JArray(Nil),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- driver-compat read/discovery commands: the first things a
      // real driver or shell issues after the handshake — collection
      // discovery (listCollections/listDatabases/listIndexes) and the
      // classic read helpers (distinct, count). All answer from the
      // store's metadata or one bounded aggregate.
      fields.get("listCollections") match {
        case Some(_) =>
          // declared-but-empty capped collections list too (mongod
          // creates them at `create` time; ours fill on first insert)
          val collNames = (store.collections() ++
            store.cappedNames()).distinct.sorted
          val docs = collNames.map { n =>
            val opts = store.cappedSpec(n) match {
              case Some((max, size)) => JObject(List(
                "capped" -> JBool(true)) ++
                (if (max > 0) List("max" -> JLong(max)) else Nil) ++
                (if (size > 0) List("size" -> JLong(size)) else Nil))
              case None => JObject(Nil)
            }
            encodeDoc(JObject(List(
              "name" -> JString(n),
              "type" -> JString("collection"),
              "options" -> opts,
              "info" -> JObject(List("readOnly" -> JBool(false))))))
          } ++
            store.views().map { n =>
              val (on, pipe) = store.viewDef(n).get
              encodeDoc(JObject(List(
                "name" -> JString(n),
                "type" -> JString("view"),
                "options" -> JObject(List(
                  "viewOn" -> JString(on),
                  "pipeline" -> graft.mql.Mql.parse(pipe))),
                "info" -> JObject(List("readOnly" -> JBool(true))))))
            }
          return buildCursorReply(0L, s"$db.$$cmd.listCollections",
            "firstBatch", docs)
        case None => ()
      }
      // ---- create: mongod's collection/view creation — only the VIEW
      // form is meaningful here (a plain create cannot pre-declare a
      // schema in a fixed-schema engine; the first insert creates the
      // collection, mongod-style)
      fields.get("create") match {
        case Some(JString(name)) =>
          (fields.get("viewOn"), fields.get("pipeline")) match {
            case (Some(JString(on)), pipeOpt) =>
              val pipe = pipeOpt.map(p =>
                org.json4s.jackson.JsonMethods.compact(
                  org.json4s.jackson.JsonMethods.render(p)))
                .getOrElse("[]")
              store.createView(name, on, pipe)
              return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
            case (None, _) if fields.get("capped")
                .contains(JBool(true)) =>
              // mongod's capped form: FIFO budget of `max` docs and/or
              // `size` bytes, declared now, built by the first insert
              def num(k: String): Long = fields.get(k) match {
                case Some(JInt(n)) => n.toLong
                case Some(JLong(n)) => n
                case Some(JDouble(n)) => n.toLong
                case None => 0L
                case Some(other) => throw new IllegalArgumentException(
                  s"create: $k must be a number, got $other")
              }
              store.declareCapped(name, num("max"), num("size"))
              return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
            case (None, _) => throw new IllegalArgumentException(
              "create: only the view form (viewOn + pipeline) and the " +
                "capped form (capped: true with max/size) are " +
                "supported — plain collections are created by their " +
                "first insert (fixed-schema engine)")
            case (Some(other), _) => throw new IllegalArgumentException(
              s"create: viewOn must be a string, got $other")
          }
        case _ => ()
      }
      fields.get("listDatabases") match {
        case Some(_) =>
          return encodeDoc(JObject(List(
            "databases" -> JArray(List(JObject(List(
              "name" -> JString(db),
              "empty" -> JBool(store.collections().isEmpty))))),
            "ok" -> JDouble(1.0))))
        case None => ()
      }
      fields.get("listIndexes") match {
        case Some(JString(coll)) =>
          if (!store.exists(coll))
            return buildErrorReply(s"ns does not exist: $db.$coll", 26)
          // the implicit _id index every mongod collection has, plus
          // the catalog's declared unique key (the engine's index-ish
          // metadata)
          val docs = List(encodeDoc(JObject(List(
            "v" -> JInt(2),
            "key" -> JObject(List("_id" -> JInt(1))),
            "name" -> JString("_id_"))))) ++
            store.uniqueKeyOf(coll).map(k => encodeDoc(JObject(List(
              "v" -> JInt(2),
              "key" -> JObject(List(k -> JInt(1))),
              "name" -> JString(s"${k}_1"),
              "unique" -> JBool(true)))))
          return buildCursorReply(0L, s"$db.$coll", "firstBatch", docs)
        case _ => ()
      }
      // ---- multi-document transactions: commit applies every staged
      // overlay after optimistic validation (first committer wins);
      // abort just drops the state. Both are session-addressed
      // (lsid + txnNumber) and idempotent where mongod's are: a
      // retried commitTransaction of a committed transaction
      // re-acknowledges ok.
      if (fields.contains("commitTransaction") ||
          fields.contains("abortTransaction")) {
        val commit = fields.contains("commitTransaction")
        val op = if (commit) "commitTransaction" else "abortTransaction"
        if (!fields.get("autocommit").contains(JBool(false)))
          throw new IllegalArgumentException(
            s"$op requires autocommit: false")
        val (sid, txn) = sessionOf(fields).getOrElse(
          throw new IllegalArgumentException(s"$op requires lsid + txnNumber"))
        val cur = activeTxns.get(sid)
        if (cur == null || cur.txnNumber != txn)
          throw transientErr(
            s"no transaction $txn on this session to $op",
            251, "NoSuchTransaction")
        if (commit) cur.status match {
          case "committed" => // retried commit: idempotent re-ack
            return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
          case "aborted" => throw transientErr(
            s"transaction $txn has been aborted and cannot commit",
            251, "NoSuchTransaction")
          case _ =>
            val touched = cur.stamps.keys.toList.sorted
            withMonitors(touched) {
              cur.stamps.find { case (c, s) =>
                store.contentStamp(c) != s
              }.foreach { case (c, _) =>
                cur.status = "aborted"
                throw transientErr(
                  s"write conflict on '$c': another writer committed " +
                    "since this transaction started — retry the " +
                    "transaction", 112, "WriteConflict")
              }
              cur.overlays.foreach { case (c, df) => store.write(df, c) }
              cur.status = "committed"
            }
            cur.overlays.keys.foreach(refreshPreload)
            return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
        } else cur.status match {
          case "committed" => throw new CommandError(
            s"transaction $txn has been committed and cannot abort",
            256, "TransactionCommitted")
          case _ => // aborting an aborted transaction is a no-op ack
            cur.status = "aborted"
            return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
        }
      }
      val txnCtx: Option[TxnState] =
        txnFor(fields, cmd.obj.headOption.map(_._1).getOrElse(""))
      // ---- monitoring surface: collStats / dbStats / serverStatus —
      // the commands mongosh's db.coll.stats()/db.stats() and every
      // monitoring agent issue. Sizes are file-listing metadata
      // (O(files)); counts are one aggregate (driver-client context).
      def collBytes(coll: String): Long = {
        val p = new org.apache.hadoop.fs.Path(store.path(coll))
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
      }
      fields.get("collStats") match {
        case Some(JString(coll)) =>
          if (!store.exists(coll) && store.cappedSpec(coll).isEmpty)
            return buildErrorReply(s"ns does not exist: $db.$coll", 26)
          val count = if (store.exists(coll)) store.read(coll).count()
                      else 0L
          val bytes = collBytes(coll)
          val capped = store.cappedSpec(coll)
          return encodeDoc(JObject(List(
            "ns" -> JString(s"$db.$coll"),
            "count" -> JLong(count),
            "size" -> JLong(bytes),
            "storageSize" -> JLong(bytes),
            "avgObjSize" ->
              (if (count > 0) JLong(bytes / count) else JLong(0L)),
            "capped" -> JBool(capped.isDefined)) ++
            capped.toList.flatMap { case (max, size) =>
              (if (max > 0) List("max" -> JLong(max)) else Nil) ++
                (if (size > 0) List("maxSize" -> JLong(size)) else Nil)
            } ++ List(
            "nindexes" -> JInt(1 + store.uniqueKeyOf(coll).size),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      fields.get("dbStats") match {
        case Some(_) =>
          val colls = store.collections()
          return encodeDoc(JObject(List(
            "db" -> JString(db),
            "collections" -> JInt(colls.size),
            "views" -> JInt(store.views().size),
            "objects" -> JLong(
              colls.map(c => store.read(c).count()).sum),
            "dataSize" -> JLong(colls.map(collBytes).sum),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- currentOp: live operations from REAL server state — the
      // open cursors and active transactions, with ages. mongosh's
      // db.currentOp() and the admin $currentOp stage both land here.
      def currentOpDocs(): List[Array[Byte]] = {
        val now = System.nanoTime()
        val cursorDocs = cursors.entrySet().toArray(
          Array.empty[java.util.Map.Entry[java.lang.Long, Cursor]])
          .sortBy(_.getKey: Long).toList.map { e =>
            val c = e.getValue
            encodeDoc(JObject(List(
              "type" -> JString("idleCursor"),
              "cursorId" -> JLong(e.getKey),
              "ns" -> JString(c.ns),
              "tailable" -> JBool(c.tail.isDefined || c.capTail.isDefined),
              "ageSeconds" -> JLong((now - c.lastUsed) / 1000000000L))))
          }
        val txnDocs = activeTxns.values().toArray(Array.empty[TxnState])
          .filter(_.status == "active").sortBy(_.lsid).toList.map { t =>
            encodeDoc(JObject(List(
              "type" -> JString("transaction"),
              "lsid" -> JObject(List("id" -> JString(t.lsid))),
              "txnNumber" -> JLong(t.txnNumber),
              "collections" -> JArray(
                t.stamps.keys.toList.sorted.map(JString(_))),
              "ageSeconds" -> JLong((now - t.startNanos) / 1000000000L))))
          }
        cursorDocs ++ txnDocs
      }
      fields.get("currentOp") match {
        case Some(_) =>
          return encodeDoc(JObject(List(
            "inprog" -> JArray(currentOpDocs().map(d =>
              decodeDoc(d): JValue)),
            "ok" -> JDouble(1.0))))
        case None => ()
      }
      fields.get("serverStatus") match {
        case Some(_) =>
          def opc(k: String): JValue = JLong(
            Option(opcounters.get(k)).map(_.get()).getOrElse(0L))
          return encodeDoc(JObject(List(
            "host" -> JString(s"127.0.0.1:$port"),
            "process" -> JString("graft"),
            "uptime" -> JDouble(
              (System.nanoTime() - serverStartNanos) / 1e9),
            "connections" -> JObject(List(
              "current" -> JInt(liveConnections.get()),
              "totalCreated" -> JLong(totalConnections.get()))),
            "opcounters" -> JObject(List(
              "insert" -> opc("insert"), "query" -> opc("query"),
              "update" -> opc("update"), "delete" -> opc("delete"),
              "getmore" -> opc("getmore"),
              "command" -> opc("command"))),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- collMod: mongod's in-place options modifier — the two
      // forms this engine has options FOR: resize a capped budget
      // (cappedSize/cappedMax, mongod 6.0 — a shrink evicts
      // immediately) and redefine a view (viewOn/pipeline)
      fields.get("collMod") match {
        case Some(JString(coll)) =>
          val isView = store.isView(coll)
          val cappedMax = fields.get("cappedMax")
          val cappedSize = fields.get("cappedSize")
          val viewOn = fields.get("viewOn")
          val pipe = fields.get("pipeline")
          def num(v: Option[JValue], k: String): Long = v match {
            case Some(JInt(n)) => n.toLong
            case Some(JLong(n)) => n
            case Some(JDouble(n)) => n.toLong
            case None => 0L
            case Some(other) => throw new IllegalArgumentException(
              s"collMod: $k must be a number, got $other")
          }
          if (isView) {
            val on = viewOn match {
              case Some(JString(o)) => o
              case _ => throw new IllegalArgumentException(
                "collMod on a view needs viewOn (and optionally " +
                  "pipeline)")
            }
            val pjson = pipe.map(v =>
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(v))).getOrElse("[]")
            store.dropView(coll): Unit
            store.createView(coll, on, pjson)
            return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
          }
          if (cappedMax.isDefined || cappedSize.isDefined) {
            store.resizeCapped(coll, num(cappedMax, "cappedMax"),
              num(cappedSize, "cappedSize"))
            localRel.remove(coll): Unit
            return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
          }
          throw new IllegalArgumentException(
            "collMod: supported forms are cappedSize/cappedMax (capped " +
              "collections) and viewOn/pipeline (views)")
        case _ => ()
      }
      // ---- convertToCapped: rebuild an ordinary collection as capped
      // in place (newest budget-ful survives; DocStore streams the
      // scan through a cap-bounded deque — O(budget) memory)
      fields.get("convertToCapped") match {
        case Some(JString(coll)) =>
          requireNotView(coll, "convertToCapped")
          def num(k: String): Long = fields.get(k) match {
            case Some(JInt(n)) => n.toLong
            case Some(JLong(n)) => n
            case Some(JDouble(n)) => n.toLong
            case None => 0L
            case Some(other) => throw new IllegalArgumentException(
              s"convertToCapped: $k must be a number, got $other")
          }
          store.convertToCapped(coll, num("max"), num("size"))
          localRel.remove(coll): Unit
          return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- validate: real structural checks, not a stub — the scan
      // must count, and a capped collection's batch files must parse
      // to exactly the doc counts their names declare
      fields.get("validate") match {
        case Some(JString(coll)) =>
          if (!store.exists(coll))
            return buildErrorReply(s"ns does not exist: $db.$coll", 26)
          val errors = List.newBuilder[String]
          val nrecords =
            try store.read(coll).count()
            catch { case scala.util.control.NonFatal(e) =>
              errors += s"scan failed: ${e.getMessage}"; -1L }
          if (store.cappedSpec(coll).isDefined)
            store.cappedFiles(coll).foreach { case (name, _, count, _) =>
              val parsed =
                try {
                  val p = new org.apache.hadoop.fs.Path(
                    store.path(coll), name)
                  val in = p.getFileSystem(
                    spark.sparkContext.hadoopConfiguration).open(p)
                  try graft.bson.BsonBinary.documents(in).size
                  finally in.close()
                } catch { case scala.util.control.NonFatal(e) =>
                  errors += s"$name: unparseable (${e.getMessage})"; -1
                }
              if (parsed >= 0 && parsed != count)
                errors += s"$name: declares $count docs, parses $parsed"
            }
          val errs = errors.result()
          return encodeDoc(JObject(List(
            "ns" -> JString(s"$db.$coll"),
            "nrecords" -> JLong(nrecords),
            "nIndexes" -> JInt(1 + store.uniqueKeyOf(coll).size),
            "valid" -> JBool(errs.isEmpty),
            "errors" -> JArray(errs.map(JString(_))),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      fields.get("distinct") match {
        case Some(JString(coll)) =>
          import org.apache.spark.sql.functions.{coalesce, col, explode, lit}
          val key = fields.get("key") match {
            case Some(JString(k)) => k
            case other => throw new IllegalArgumentException(
              s"distinct needs a string 'key', got $other")
          }
          val base = txnCtx.map(txnRead(_, coll))
            .getOrElse(readBase(coll))
          val q = fields.getOrElse("query", JObject(Nil))
          val dColl8n = fields.get("collation").map { c =>
            FilterCompiler.Collation.parse(
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(c)))
          }
          val cond = coalesce(FilterCompiler.withCollation(dColl8n)(
            FilterCompiler.withSchema(Some(base.schema))(
              FilterCompiler.compile(q))), lit(false))
          val proj = base.where(cond).select(col(key).as("__v"))
          // mongod's distinct UNWINDS array fields — distinct elements,
          // not distinct arrays
          val flat = proj.schema.head.dataType match {
            case _: org.apache.spark.sql.types.ArrayType =>
              proj.select(explode(col("__v")).as("__v"))
            case _ => proj
          }
          val vals = flat.where(col("__v").isNotNull).distinct()
            .orderBy(col("__v")).collect().map(_.get(0))
          val out = vals.toList.map {
            case s: String => JString(s)
            case i: Int => JInt(i)
            case l: Long => JLong(l)
            case d: Double => JDouble(d)
            case b: Boolean => JBool(b)
            case other => throw new IllegalArgumentException(
              s"distinct: unsupported value type " +
                s"${other.getClass.getSimpleName} for key '$key'")
          }
          return encodeDoc(JObject(List(
            "values" -> JArray(out), "ok" -> JDouble(1.0))))
        case _ => ()
      }
      fields.get("count") match {
        case Some(JString(coll)) =>
          import org.apache.spark.sql.functions.{coalesce, lit}
          if (!store.exists(coll) && !store.isView(coll))
            return encodeDoc(JObject(List(
              "n" -> JLong(0L), "ok" -> JDouble(1.0))))
          val base = txnCtx.map(txnRead(_, coll))
            .getOrElse(readBase(coll))
          val q = fields.getOrElse("query", JObject(Nil))
          val cColl8n = fields.get("collation").map { c =>
            FilterCompiler.Collation.parse(
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(c)))
          }
          val cond = coalesce(FilterCompiler.withCollation(cColl8n)(
            FilterCompiler.withSchema(Some(base.schema))(
              FilterCompiler.compile(q))), lit(false))
          def intOpt(k: String): Option[Long] = fields.get(k) match {
            case Some(JInt(v)) => Some(v.toLong)
            case Some(JLong(v)) => Some(v)
            case _ => None
          }
          val raw = base.where(cond).count()
          // mongod: skip subtracts, limit caps (0 = no limit)
          val afterSkip = math.max(0L, raw - intOpt("skip").getOrElse(0L))
          val n = intOpt("limit").filter(_ > 0)
            .map(l => math.min(afterSkip, l)).getOrElse(afterSkip)
          return encodeDoc(JObject(List(
            "n" -> JLong(n), "ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- explain: mongod's plan-inspection command — wraps a find
      // or aggregate and answers the compiled plan instead of running
      // a cursor. queryPlanner verbosity is the honest one here (the
      // engine's formatted physical plan IS the planner output;
      // executionStats live in the Spark UI, not the plan).
      fields.get("explain") match {
        case Some(JObject(inner)) =>
          val im = inner.toMap
          val plan = (im.get("find"), im.get("aggregate")) match {
            case (Some(JString(coll)), _) =>
              val filterJson = im.get("filter")
                .map(f => FilterTranslator.render(f)).getOrElse("{}")
              val base = store.readOrView(coll)
              base.where(FilterCompiler.withSchema(Some(base.schema))(
                FilterCompiler.compile(filterJson)))
                .queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
            case (Some(other), _) => throw new IllegalArgumentException(
              s"explain: find takes a collection name, got ${
                FilterTranslator.render(other)}")
            case (None, Some(JString(coll))) =>
              val stages = im.get("pipeline") match {
                case Some(p) => org.json4s.jackson.JsonMethods.compact(
                  org.json4s.jackson.JsonMethods.render(p))
                case None => "[]"
              }
              val resolve: graft.mql.PipelineCompiler.TableResolver =
                name => store.readOrView(name)
              graft.mql.PipelineCompiler.run(store.readOrView(coll), stages,
                resolve).queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
            case _ => throw new IllegalArgumentException(
              "explain wraps a find or aggregate command")
          }
          return encodeDoc(JObject(List(
            "queryPlanner" -> JObject(List(
              "plannerVersion" -> JInt(1),
              "namespace" -> JString(s"$db.${im.get("find").orElse(
                im.get("aggregate")).collect { case JString(c) => c }
                .getOrElse("?")}"),
              "winningPlan" -> JObject(List(
                "stage" -> JString("GRAFT_SPARK_PLAN"),
                "plan" -> JString(plan))))),
            "ok" -> JDouble(1.0))))
        case Some(other) => throw new IllegalArgumentException(
          s"explain needs a command document, got $other")
        case None => ()
      }
      // ---- drop / renameCollection: collection DDL over the wire —
      // both ride the store's DDL journal, so change streams see the
      // drop/rename + terminal invalidate exactly as local DDL does
      fields.get("drop") match {
        case Some(JString(coll)) =>
          if (store.isView(coll)) {
            store.dropView(coll): Unit
            return encodeDoc(JObject(List(
              "ns" -> JString(s"$db.$coll"), "ok" -> JDouble(1.0))))
          }
          if (!store.exists(coll))
            return buildErrorReply(s"ns not found: $db.$coll", 26)
          store.drop(coll): Unit
          localRel.remove(coll): Unit
          return encodeDoc(JObject(List(
            "ns" -> JString(s"$db.$coll"), "ok" -> JDouble(1.0))))
        case _ => ()
      }
      fields.get("renameCollection") match {
        case Some(JString(fromNs)) =>
          val toNs = fields.get("to") match {
            case Some(JString(t)) => t
            case other => throw new IllegalArgumentException(
              s"renameCollection needs a string 'to', got $other")
          }
          def collOf(ns: String): String = ns.dropWhile(_ != '.').drop(1) match {
            case "" => ns
            case c => c
          }
          val dropTarget = fields.get("dropTarget").contains(JBool(true))
          store.rename(collOf(fromNs), collOf(toNs), dropTarget)
          localRel.remove(collOf(fromNs)): Unit
          localRel.remove(collOf(toNs)): Unit
          return encodeDoc(JObject(List("ok" -> JDouble(1.0))))
        case _ => ()
      }
      // ---- dropDatabase: every live collection drops (each journaling
      // its own drop for collection-level watches) plus the ONE
      // db-level terminal event a db watch translates to its
      // invalidate — the only invalidation path a db-level change
      // stream has (mongod contract; collection DDL never ends it)
      fields.get("dropDatabase") match {
        case Some(v) =>
          val one = v match {
            case JInt(i) => i == 1
            case JLong(l) => l == 1L
            case JDouble(d) => d == 1.0
            case _ => false
          }
          if (!one) throw new IllegalArgumentException(
            s"dropDatabase must be 1, got $v")
          store.dropDatabase(): Unit
          localRel.clear()
          return encodeDoc(JObject(List(
            "dropped" -> JString(db), "ok" -> JDouble(1.0))))
        case None => ()
      }
      // ---- insert: the write path (reference write(), api.py) over the
      // wire — documents arrive as a kind-1 "documents" sequence (how
      // real drivers ship bulk writes), land raw in a batch file, decode
      // through the normal graftdocs scan, and append to the collection.
      // With {lsid, txnNumber} the write is RETRYABLE (mongod's
      // retryable-writes contract): a replayed (lsid, txnNumber) is
      // acknowledged from the transaction log WITHOUT re-applying —
      // the dedup the graftwire streaming sink rides for effectively-
      // once micro-batch replays.
      fields.get("insert") match {
        case Some(JString(coll)) =>
          requireNotView(coll, "insert")
          // inside a transaction the retryable-write log does not
          // apply per-op (commitTransaction is the retryable unit)
          val session = if (txnCtx.isDefined) None else sessionOf(fields)
          sessionReplay(session) match {
            case Some(reply) =>
              // retried write: acknowledge from the log, never re-apply
              return reply
            case None => ()
          }
          val docs = sequences.collectFirst {
            case ("documents", ds) => ds
          }.getOrElse {
            // legacy form: documents as a BSON array INSIDE the command
            fields.get("documents") match {
              case Some(JArray(es)) => es.map(e => encodeDoc(e))
              case _ => throw new IllegalArgumentException(
                "insert needs a 'documents' sequence (kind-1 section) " +
                  "or array")
            }
          }
          if (docs.isEmpty) throw new IllegalArgumentException(
            "insert with an empty documents sequence")
          // transactional insert: decode against the overlay schema and
          // stage the union — nothing lands until commitTransaction
          // (and nothing may implicitly CREATE a collection in a
          // transaction: there is no base schema to stamp or decode
          // against, mongod-pre-4.4 contract)
          txnCtx.foreach { t =>
            inTxn(txnCtx) {
              if (!store.exists(coll)) throw new CommandError(
                s"cannot implicitly create collection '$coll' inside " +
                  "a multi-document transaction — create it first",
                263, "OperationNotSupportedInTransaction")
              val base = txnRead(t, coll)
              val schema = base.schema
              val fresh = graft.bson.BsonBinary
                .documents(new java.io.ByteArrayInputStream(
                  docs.foldLeft(new ByteArrayOutputStream(
                    docs.map(_.length).sum)) { (b, d) =>
                    b.write(d, 0, d.length); b
                  }.toByteArray))
                .map(n => graft.bson.DocDecoder
                  .decodeStruct(n, schema, strict = false)
                  : org.apache.spark.sql.Row)
                .toSeq
              t.overlays(coll) = base.unionByName(spark.createDataFrame(
                java.util.Arrays.asList(fresh: _*), schema))
            }
            return encodeDoc(JObject(List(
              "n" -> JInt(docs.size), "ok" -> JDouble(1.0))))
          }
          // mongod-append shape: the raw batch commits as ONE new
          // graftdocs file (hidden rename) — no Spark job runs inside
          // the handler, so concurrent per-partition inserts can never
          // starve the scheduler, and appends are trivially lossless
          val bytes = new ByteArrayOutputStream(docs.map(_.length).sum)
          docs.foreach(d => bytes.write(d, 0, d.length))
          store.appendRaw(coll, bytes.toByteArray)
          // keep the preloaded copy current WITHOUT a Spark job: decode
          // the freshly-appended docs driver-side against the preloaded
          // schema and extend the LocalRelation. Re-materializing via
          // store.read().collect() — here or lazily on the next find —
          // schedules a job, which deadlocks when every task slot is
          // blocked on a wire cursor this server is serving (the exact
          // hazard preload exists to remove). Falls back to dropping
          // the entry (next find reads the store) if decode disagrees
          // with the preloaded schema.
          // Per-collection monitor serializes the read-modify-write —
          // two connections inserting concurrently (one InsertChannel
          // per partition in a graftwire write) must not both read the
          // same prev and last-put-wins away the other's rows. The
          // collect/createDataFrame runs OUTSIDE any ConcurrentHashMap
          // remapping function (CHM callbacks hold the bin lock and
          // must be short — a slow collect there would stall every
          // insert hashing to that bin); the dedicated monitor costs
          // nothing and cannot block unrelated collections. Dropping
          // the entry (next find reads the store) remains the fallback
          // when decode disagrees or the cap trips.
          collMonitor(coll).synchronized {
            // capped collections evict on append — extending a
            // preloaded copy would keep ghosts of evicted docs; drop
            // the entry and let the next find re-scan
            if (store.cappedSpec(coll).isDefined) localRel.remove(coll): Unit
            val prev = localRel.get(coll)
            if (prev != null) {
              val next = try {
                val schema = prev.schema
                val fresh = graft.bson.BsonBinary
                  .documents(new java.io.ByteArrayInputStream(bytes.toByteArray))
                  .map(n => graft.bson.DocDecoder
                    .decodeStruct(n, schema, strict = false): org.apache.spark.sql.Row)
                  .toSeq
                val all = prev.collect().toSeq ++ fresh
                if (all.length > preloadCap) null
                else spark.createDataFrame(
                  java.util.Arrays.asList(all: _*), schema)
              } catch { case scala.util.control.NonFatal(_) => null }
              if (next == null) localRel.remove(coll): Unit
              else localRel.put(coll, next): Unit
            }
          }
          return sessionAck(session, encodeDoc(JObject(List(
            "n" -> JInt(docs.size), "ok" -> JDouble(1.0)))))
        case _ => ()
      }
      // ---- update / delete / findAndModify: the CRUD write surface a
      // real driver issues the moment an application calls update_one/
      // replace_one/delete_many (the reference client itself writes via
      // insert_many only, api.py:602-713). Each update lowers through
      // UpdateOps to ONE CASE projection over the collection + a
      // staged-swap write; delete is one anti-filter + swap. These
      // handlers RUN SPARK JOBS — safe in a driver-client context (the
      // $out/$merge aggregate path already does); the saturated-scan
      // preload path exists for find/insert, which stay job-free.
      // All three ride the {lsid, txnNumber} retryable-write log: a
      // replayed command is acknowledged byte-identically from the log
      // WITHOUT re-applying (mongod's retryable-writes contract —
      // without it a Spark task retry would double-apply an $inc).
      fields.get("update") match {
        case Some(JString(coll)) =>
          val session = if (txnCtx.isDefined) None else sessionOf(fields)
          sessionReplay(session) match {
            case Some(reply) => return reply
            case None => ()
          }
          val specs = fields.get("updates") match {
            case Some(JArray(us)) => us
            case other => throw new IllegalArgumentException(
              s"update needs an 'updates' array, got $other")
          }
          var nMatched = 0L
          var nModified = 0L
          val upserted = List.newBuilder[(Int, JValue)]
          specs.zipWithIndex.foreach { case (spec, idx) =>
            val so = spec match {
              case JObject(fs) => fs.toMap
              case other => throw new IllegalArgumentException(
                s"updates entries must be documents, got $other")
            }
            so.keys.filterNot(Set("q", "u", "multi", "upsert", "hint",
                "arrayFilters"))
              .foreach(k => throw new IllegalArgumentException(
                s"update: unsupported option '$k'"))
            val q = so.getOrElse("q", JObject(Nil))
            val u = so.getOrElse("u", throw new IllegalArgumentException(
              "updates entry missing 'u'"))
            val multi = so.get("multi").contains(JBool(true))
            val upsert = so.get("upsert").contains(JBool(true))
            val af = so.getOrElse("arrayFilters", JNothing)
            val (m, mod, up) = inTxn(txnCtx)(
              applyUpdateSpec(coll, q, u, multi, upsert, af, txnCtx))
            nMatched += m; nModified += mod
            up.foreach(id => upserted += ((idx, id)))
          }
          if (txnCtx.isEmpty) refreshPreload(coll)
          val ups = upserted.result()
          return sessionAck(session, encodeDoc(JObject(List(
            "n" -> JLong(nMatched + ups.size),
            "nModified" -> JLong(nModified)) ++
            (if (ups.isEmpty) Nil else List("upserted" -> JArray(
              ups.map { case (i, id) => JObject(List(
                "index" -> JInt(i), "_id" -> id)) }))) ++
            List("ok" -> JDouble(1.0)))))
        case _ => ()
      }
      fields.get("delete") match {
        case Some(JString(coll)) =>
          val session = if (txnCtx.isDefined) None else sessionOf(fields)
          sessionReplay(session) match {
            case Some(reply) => return reply
            case None => ()
          }
          val specs = fields.get("deletes") match {
            case Some(JArray(ds)) => ds
            case other => throw new IllegalArgumentException(
              s"delete needs a 'deletes' array, got $other")
          }
          var n = 0L
          specs.foreach { spec =>
            val so = spec match {
              case JObject(fs) => fs.toMap
              case other => throw new IllegalArgumentException(
                s"deletes entries must be documents, got $other")
            }
            so.keys.filterNot(Set("q", "limit", "hint"))
              .foreach(k => throw new IllegalArgumentException(
                s"delete: unsupported option '$k'"))
            val q = so.getOrElse("q", JObject(Nil))
            val limit = so.get("limit") match {
              case Some(JInt(l)) => l.toInt
              case Some(JLong(l)) => l.toInt
              case None => throw new IllegalArgumentException(
                "deletes entry missing 'limit' (0 = all matching, 1 = one)")
              case Some(other) => throw new IllegalArgumentException(
                s"delete limit must be 0 or 1, got $other")
            }
            if (limit != 0 && limit != 1) throw new IllegalArgumentException(
              s"delete limit must be 0 or 1, got $limit")
            n += inTxn(txnCtx)(applyDeleteSpec(coll, q, limit, txnCtx))
          }
          if (txnCtx.isEmpty) refreshPreload(coll)
          return sessionAck(session, encodeDoc(JObject(List(
            "n" -> JLong(n), "ok" -> JDouble(1.0)))))
        case _ => ()
      }
      fields.get("findAndModify") match {
        case Some(JString(coll)) =>
          val session = if (txnCtx.isDefined) None else sessionOf(fields)
          sessionReplay(session) match {
            case Some(reply) => return reply
            case None => ()
          }
          val reply = inTxn(txnCtx)(runFindAndModify(coll, fields, txnCtx))
          if (txnCtx.isEmpty) refreshPreload(coll)
          return sessionAck(session, reply)
        case _ => ()
      }
      // ---- bulkWrite (mongod 8.0's unified write command — the entry
      // point modern drivers migrate bulk_write() onto): a single `ops`
      // array mixing insert/update/delete entries, each naming its
      // collection through the nsInfo table; ORDERED execution (the
      // default) stops at the first error and reports results-so-far.
      // Every op dispatches to the same machinery the single commands
      // use; the whole command rides ONE retryable-write log entry.
      fields.get("bulkWrite") match {
        case Some(_) =>
          val session = sessionOf(fields)
          sessionReplay(session) match {
            case Some(reply) => return reply
            case None => ()
          }
          val nsInfo: IndexedSeq[String] = fields.get("nsInfo") match {
            case Some(JArray(es)) => es.toIndexedSeq.map {
              case JObject(no) => no.collectFirst {
                case ("ns", JString(ns)) =>
                  // "db.coll" — this server is single-db; take the coll
                  ns.dropWhile(_ != '.').drop(1) match {
                    case "" => ns
                    case c => c
                  }
              }.getOrElse(throw new IllegalArgumentException(
                "nsInfo entries need an 'ns' string"))
              case other => throw new IllegalArgumentException(
                s"nsInfo entries must be documents, got $other")
            }
            case _ => throw new IllegalArgumentException(
              "bulkWrite needs an 'nsInfo' array")
          }
          val ops: List[JValue] = fields.get("ops") match {
            case Some(JArray(es)) => es
            case _ => sequences.collectFirst { case ("ops", ds) =>
              ds.toList.map(d => decodeDoc(d): JValue)
            }.getOrElse(throw new IllegalArgumentException(
              "bulkWrite needs an 'ops' array (inline or kind-1 section)"))
          }
          val ordered = !fields.get("ordered").contains(JBool(false))
          if (!ordered) throw new IllegalArgumentException(
            "bulkWrite: only ordered execution is supported")
          var nInserted = 0L; var nMatched = 0L; var nModified = 0L
          var nUpserted = 0L; var nDeleted = 0L; var nErrors = 0L
          val results = List.newBuilder[JObject]
          val touched = scala.collection.mutable.Set.empty[String]
          var halted = false
          ops.zipWithIndex.foreach { case (op, idx) =>
            if (!halted) {
              val oo = op match {
                case JObject(fs) => fs
                case other => throw new IllegalArgumentException(
                  s"ops entries must be documents, got $other")
              }
              def nsAt(v: JValue): String = v match {
                case JInt(i) if i >= 0 && i < nsInfo.length => nsInfo(i.toInt)
                case other => throw new IllegalArgumentException(
                  s"op names nsInfo index $other outside 0..${nsInfo.length - 1}")
              }
              try {
                oo.toMap.get("insert") match {
                  case Some(nsIdx) =>
                    val coll = nsAt(nsIdx)
                    requireNotView(coll, "insert")
                    val doc = oo.collectFirst { case ("document", d) => d }
                      .getOrElse(throw new IllegalArgumentException(
                        "insert op needs a 'document'"))
                    store.appendRaw(coll, encodeDoc(doc))
                    touched += coll
                    nInserted += 1
                    results += JObject(List("ok" -> JDouble(1.0),
                      "idx" -> JInt(idx), "n" -> JInt(1)))
                  case None => oo.toMap.get("update") match {
                    case Some(nsIdx) =>
                      val coll = nsAt(nsIdx)
                      val m = oo.toMap
                      val q = m.getOrElse("filter", JObject(Nil))
                      val u = m.getOrElse("updateMods",
                        throw new IllegalArgumentException(
                          "update op needs 'updateMods'"))
                      val multi = m.get("multi").contains(JBool(true))
                      val upsert = m.get("upsert").contains(JBool(true))
                      val af = m.getOrElse("arrayFilters", JNothing)
                      val (mm, mod, up) =
                        applyUpdateSpec(coll, q, u, multi, upsert, af)
                      touched += coll
                      nMatched += mm; nModified += mod
                      nUpserted += up.size
                      results += JObject(List("ok" -> JDouble(1.0),
                        "idx" -> JInt(idx),
                        "n" -> JLong(mm + up.size),
                        "nModified" -> JLong(mod)) ++
                        up.map(id => "upserted" ->
                          (JObject(List("_id" -> id)): JValue)).toList)
                    case None => oo.toMap.get("delete") match {
                      case Some(nsIdx) =>
                        val coll = nsAt(nsIdx)
                        val m = oo.toMap
                        val q = m.getOrElse("filter", JObject(Nil))
                        val limit =
                          if (m.get("multi").contains(JBool(true))) 0 else 1
                        val n = applyDeleteSpec(coll, q, limit)
                        touched += coll
                        nDeleted += n
                        results += JObject(List("ok" -> JDouble(1.0),
                          "idx" -> JInt(idx), "n" -> JLong(n)))
                      case None => throw new IllegalArgumentException(
                        s"ops entry $idx is not insert/update/delete")
                    }
                  }
                }
              } catch {
                case scala.util.control.NonFatal(e) =>
                  nErrors += 1
                  halted = true // ordered: stop at the first error
                  results += JObject(List("ok" -> JDouble(0.0),
                    "idx" -> JInt(idx), "code" -> JInt(8),
                    "errmsg" -> JString(String.valueOf(e.getMessage))))
              }
            }
          }
          touched.foreach(refreshPreload)
          val resultDocs = results.result().map(r => encodeDoc(r))
          val summary = JObject(List(
            "nErrors" -> JLong(nErrors),
            "nInserted" -> JLong(nInserted),
            "nMatched" -> JLong(nMatched),
            "nModified" -> JLong(nModified),
            "nUpserted" -> JLong(nUpserted),
            "nDeleted" -> JLong(nDeleted)))
          return sessionAck(session, buildCursorReply(0L,
            s"admin.$$cmd.bulkWrite", "firstBatch", resultDocs,
            extraTop = summary.obj))
        case None => ()
      }
      def openRowCursor(rows: Iterator[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType,
                        coll: String, batchSize: Int): Array[Byte] = {
        val c = new Cursor(s"$db.$coll", rows, schema, batchSize)
        val first = pull(c)
        val id = if (c.rows.hasNext) {
          val i = nextCursor.incrementAndGet(); cursors.put(i, c); i
        } else 0L
        buildCursorReply(id, s"$db.$coll", "firstBatch", first)
      }
      def openCursor(df: org.apache.spark.sql.DataFrame, coll: String,
                     batchSize: Int): Array[Byte] = {
        val ns = s"$db.$coll"
        val jit = df.toLocalIterator()
        val sit = new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = jit.hasNext
          def next(): org.apache.spark.sql.Row = jit.next()
        }
        val c = new Cursor(ns, sit, df.schema, batchSize)
        val first = pull(c)
        val id = if (c.rows.hasNext) {
          val i = nextCursor.incrementAndGet(); cursors.put(i, c); i
        } else 0L
        buildCursorReply(id, ns, "firstBatch", first)
      }
      def cursorBatchSize(fields: Map[String, JValue]): Int =
        fields.get("cursor") match {
          case Some(JObject(co)) => co.collectFirst {
            case ("batchSize", JInt(n)) => n.toInt
            case ("batchSize", JLong(n)) => n.toInt
          }.getOrElse(101)
          case _ => 101
        }
      // aggregate: the pipeline runs through the engine's own compiler,
      // $lookup/$unionWith resolve against the store's collections
      // splitVector (the command a sharding-aware client uses to plan
      // parallel cursors): quantile split points for a key, so the
      // client can open one range-bounded cursor per partition
      fields.get("splitVector") match {
        case Some(JString(coll)) =>
          val key = fields.get("key") match {
            case Some(JString(k)) => k
            case other => throw new IllegalArgumentException(
              s"splitVector needs a string 'key', got $other")
          }
          val n = fields.get("n") match {
            case Some(JInt(i)) => i.toInt
            case Some(JLong(l)) => l.toInt
            case _ => 0
          }
          if (n < 2) throw new IllegalArgumentException(
            "splitVector needs n >= 2")
          val bounds = store.read(coll).stat
            .approxQuantile(key, (1 until n).map(_.toDouble / n).toArray,
              0.001)
            .distinct.sorted
          return encodeDoc(JObject(List(
            "splitKeys" -> JArray(bounds.toList.map(JDouble.apply)),
            "ok" -> JDouble(1.0))))
        case _ => ()
      }
      // db-level change stream (mongod's `db.watch()`): `aggregate: 1`
      // with $changeStream first — events from EVERY versioned
      // collection, ns.coll distinguishing, one total token order
      fields.get("aggregate") match {
        case Some(JInt(one)) if one == 1 =>
          val stages = fields.get("pipeline") match {
            case Some(JArray(ss)) => ss
            case other => throw new IllegalArgumentException(
              s"aggregate needs a pipeline array, got $other")
          }
          stages.headOption match {
            case Some(JObject(List(("$changeStream", csOpts)))) =>
              return openChangeCursor(DbWatch, csOpts, JArray(stages.tail),
                cursorBatchSize(fields))
            case Some(JObject(List(("$currentOp", _)))) =>
              // admin-level $currentOp (mongosh's currentOp shape):
              // only-stage form, served from real server state
              if (stages.length > 1) throw new IllegalArgumentException(
                "$currentOp supports only the single-stage form here")
              return buildCursorReply(0L, s"$db.$$cmd.aggregate",
                "firstBatch", currentOpDocs())
            case Some(JObject(List(("$documents", _)))) =>
              // db-level literal-documents aggregate (mongosh's
              // db.aggregate([{$documents: [...]}, ...])): $documents
              // replaces the frame, so the base is only a session
              // carrier
              val df = graft.mql.PipelineCompiler.run(
                spark.emptyDataFrame,
                org.json4s.jackson.JsonMethods.compact(
                  org.json4s.jackson.JsonMethods.render(JArray(stages))),
                name => store.readOrView(name))
              return openCursor(df, "$cmd.aggregate",
                cursorBatchSize(fields))
            case _ => throw new IllegalArgumentException(
              "aggregate: 1 needs a $changeStream or $documents first " +
                "stage")
          }
        case _ => ()
      }
      fields.get("aggregate") match {
        case Some(JString(coll)) =>
          val stages = fields.get("pipeline") match {
            case Some(JArray(ss)) => ss
            case other => throw new IllegalArgumentException(
              s"aggregate needs a pipeline array, got $other")
          }
          // $changeStream must be the FIRST stage (mongod location 40602)
          stages.headOption match {
            case Some(JObject(List(("$changeStream", csOpts)))) =>
              return openChangeCursor(coll, csOpts, JArray(stages.tail),
                cursorBatchSize(fields))
            case _ =>
              if (stages.exists {
                    case JObject(fs) => fs.exists(_._1 == "$changeStream")
                    case _ => false
                  })
                throw new IllegalArgumentException(
                  "$changeStream is only valid as the first pipeline stage")
          }
          // $collStats / $indexStats: the stats stages mongosh and
          // monitoring shells open pipelines with (must lead; served
          // here where the store metadata lives, only-stage form)
          stages.headOption match {
            case Some(JObject(List(("$collStats", opts)))) =>
              if (stages.length > 1) throw new IllegalArgumentException(
                "$collStats supports only the single-stage form here " +
                  "(append stages client-side)")
              val sub = opts match {
                case JObject(fs2) => fs2.map(_._1).toSet
                case _ => Set.empty[String]
              }
              val count =
                if (store.exists(coll)) store.read(coll).count() else 0L
              val doc = JObject(List(
                "ns" -> JString(s"$db.$coll")) ++
                (if (sub.isEmpty || sub("count"))
                  List("count" -> JLong(count)) else Nil) ++
                (if (sub("storageStats")) List("storageStats" ->
                  JObject(List(
                    "size" -> JLong(collBytes(coll)),
                    "count" -> JLong(count),
                    "capped" -> JBool(store.cappedSpec(coll).isDefined))))
                 else Nil))
              return buildCursorReply(0L, s"$db.$coll", "firstBatch",
                List(encodeDoc(doc)))
            case Some(JObject(List(("$indexStats", _)))) =>
              if (stages.length > 1) throw new IllegalArgumentException(
                "$indexStats supports only the single-stage form here")
              val docs = List(encodeDoc(JObject(List(
                "name" -> JString("_id_"),
                "key" -> JObject(List("_id" -> JInt(1))),
                "accesses" -> JObject(List("ops" -> JLong(0L))))))) ++
                store.uniqueKeyOf(coll).map(k => encodeDoc(JObject(List(
                  "name" -> JString(s"${k}_1"),
                  "key" -> JObject(List(k -> JInt(1))),
                  "accesses" -> JObject(List("ops" -> JLong(0L)))))))
              return buildCursorReply(0L, s"$db.$coll", "firstBatch", docs)
            case _ => ()
          }
          val pipelineJson = org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(JArray(stages)))
          // in a transaction, $lookup/$unionWith resolve against the
          // transaction's own overlays too (read-your-writes)
          val resolve: graft.mql.PipelineCompiler.TableResolver =
            name => txnCtx.map(txnRead(_, name))
              .getOrElse(readBase(name))
          // mongod executes $out/$merge SERVER-SIDE and answers an
          // EMPTY cursor — here that is the engine role (runWithWrites),
          // not the reference client's refusal (PipelineCompiler.run)
          val writeAt = stages.indexWhere {
            case JObject(List((op, _))) =>
              graft.mql.WriteStages.WriteStageNames(op)
            case _ => false
          }
          if (writeAt >= 0 && writeAt != stages.length - 1)
            throw new IllegalArgumentException(
              "$out/$merge must be the last pipeline stage (mongod " +
                "location 40601)")
          if (writeAt >= 0 && txnCtx.isDefined)
            throw new CommandError(
              "$out/$merge cannot run inside a multi-document " +
                "transaction (mongod contract)",
              263, "OperationNotSupportedInTransaction")
          if (writeAt >= 0) {
            graft.mql.PipelineCompiler.runWithWrites(store.readOrView(coll),
              pipelineJson, resolve, store): Unit
            // any preloaded LocalRelation may now be stale (the write
            // target is spec-shaped); re-materialize here — the
            // aggregate handler already runs Spark jobs, so this is a
            // driver-client context, never a saturated-scan one
            val keys = localRel.keySet().toArray(Array.empty[String])
            keys.foreach(k => localRel.put(k, materialize(k)): Unit)
            return buildCursorReply(0L, s"$db.$coll", "firstBatch", Nil)
          }
          // the command-level `let` option: ambient variables every
          // $$var reference in the pipeline resolves against (the
          // reference forwards it verbatim in kwargs, api.py:252)
          def runPipeline() = graft.mql.PipelineCompiler.run(
            inTxn(txnCtx)(txnCtx.map(txnRead(_, coll))
              .getOrElse(readBase(coll))), pipelineJson, resolve)
          // aggregate-level collation (the reference forwards it
          // verbatim in kwargs, api.py:252) — same fold/refuse rules
          // as the API-level Db.aggregate
          val aggColl8n = fields.get("collation").map { c =>
            FilterCompiler.Collation.parse(
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(c)))
          }
          val df = FilterCompiler.withCollation(aggColl8n) {
            fields.get("let") match {
              case Some(JObject(ls)) =>
                val vars = ls.map { case (k, v) =>
                  if (!k.matches("[a-z][A-Za-z0-9_]*"))
                    throw new IllegalArgumentException(
                      s"let: variable name '$k' must start with a " +
                        "lowercase letter")
                  k -> graft.mql.ExprCompiler.compile(v, Map.empty)
                }.toMap
                graft.mql.ExprCompiler.withLetVars(vars)(runPipeline())
              case Some(other) => throw new IllegalArgumentException(
                s"aggregate let must be a document, got $other")
              case None => runPipeline()
            }
          }
          return openCursor(df, coll, cursorBatchSize(fields))
        case _ => ()
      }
      fields.get("find") match {
        case Some(JString(coll)) =>
          import org.apache.spark.sql.functions.{col => fcol}
          val filterJson = fields.get("filter")
            .map(f => FilterTranslator.render(f)).getOrElse("{}")
          // projection: include-style names the kept fields (the server
          // half of column pruning, reference api.py:172-173);
          // EXCLUSION-style ({f: 0}) drops the named columns — mongod
          // forbids mixing the two (the _id special case aside)
          val (includes, excludes) = fields.get("projection") match {
            case Some(JObject(po)) =>
              val inc = po.collect {
                case (n, JInt(i)) if i == 1 => n
                case (n, JBool(true)) => n
              }
              val exc = po.collect {
                case (n, JInt(i)) if i == 0 => n
                case (n, JBool(false)) => n
              }
              if (inc.nonEmpty && exc.exists(_ != "_id"))
                throw new IllegalArgumentException(
                  "find projection cannot mix inclusion and exclusion")
              (inc, exc)
            case Some(other) => throw new IllegalArgumentException(
              s"find projection must be a document, got $other")
            case None => (Nil, Nil)
          }
          val batchSize = fields.get("batchSize") match {
            case Some(JInt(n)) => n.toInt
            case Some(JLong(n)) => n.toInt
            case _ => 101 // mongod's first-batch default
          }
          def intField(k: String): Option[Int] = fields.get(k) match {
            case Some(JInt(n)) => Some(n.toInt)
            case Some(JLong(n)) => Some(n.toInt)
            case _ => None
          }
          val limit = intField("limit")
          val skip = intField("skip")
          val sortSpec: Seq[(String, Boolean)] = fields.get("sort") match {
            case Some(JObject(ss)) => ss.map {
              case (f, JInt(d)) if d == 1 => (f, true)
              case (f, JInt(d)) if d == -1 => (f, false)
              case (f, other) => throw new IllegalArgumentException(
                s"find sort.$f must be 1 or -1, got $other")
            }
            case Some(other) => throw new IllegalArgumentException(
              s"find sort must be a document, got $other")
            case None => Nil
          }
          // find-level collation (mongod forwards it per-operation):
          // folds the filter's string comparisons and the sort order —
          // silently ignoring it would return WRONG results to a real
          // driver, the one thing worse than refusing
          val coll8n = fields.get("collation").map { c =>
            FilterCompiler.Collation.parse(
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(c)))
          }
          // {$natural: ±1}: insertion order. Exact (either direction)
          // on capped collections, whose append-only file layout IS
          // the order; on ordinary collections +1 degrades to scan
          // order (mongod leaves it undefined there too) and -1
          // refuses rather than fake a reverse
          val naturalSort: Option[Boolean] = sortSpec match {
            case Seq(("$natural", asc)) => Some(asc)
            case _ if sortSpec.exists(_._1 == "$natural") =>
              throw new IllegalArgumentException(
                "$natural cannot combine with other sort keys")
            case _ => None
          }
          // ---- tailable find on a capped collection (mongod's oplog-
          // follow shape): natural order only, cursor survives drains,
          // getMore + maxTimeMS long-polls new appends
          if (fields.get("tailable").contains(JBool(true))) {
            if (txnCtx.isDefined) throw new CommandError(
              "tailable cursors cannot run inside a multi-document " +
                "transaction", 263, "OperationNotSupportedInTransaction")
            if (store.cappedSpec(coll).isEmpty) throw new CommandError(
              s"tailable cursor requested on non-capped collection " +
                s"'$coll'", 2, "BadValue")
            if ((sortSpec.nonEmpty && !naturalSort.contains(true)) ||
                skip.isDefined || limit.isDefined)
              throw new IllegalArgumentException(
                "tailable find serves natural (insertion) order only — " +
                  "sort/skip/limit do not apply")
            val schema0 =
              if (store.exists(coll)) store.read(coll).schema else null
            val t = new CapTail(coll, schema0, fields.get("filter"),
              includes, excludes, coll8n)
            val c = new Cursor(s"$db.$coll", Iterator.empty,
              if (schema0 == null)
                new org.apache.spark.sql.types.StructType()
              else schema0,
              batchSize, capTail = Some(t))
            capPoll(c): Unit
            val first = pull(c)
            val id = nextCursor.incrementAndGet()
            cursors.put(id, c): Unit
            return buildCursorReply(id, s"$db.$coll", "firstBatch", first)
          }
          naturalSort.foreach { asc =>
            if (store.cappedSpec(coll).isDefined && txnCtx.isEmpty) {
              // exact natural order from the driver-side snapshot
              if (!store.exists(coll))
                return buildCursorReply(0L, s"$db.$coll", "firstBatch",
                  Nil)
              val (rows0, schema) = cappedSnapshot(coll)
              val rows = if (asc) rows0 else rows0.reverse
              // filter + projection over a LocalRelation preserve row
              // order (no shuffle); skip/limit slice the ordered tail
              var ndf: org.apache.spark.sql.DataFrame =
                spark.createDataFrame(
                  java.util.Arrays.asList(rows: _*), schema)
              ndf = ndf.where(FilterCompiler.withCollation(coll8n)(
                FilterCompiler.withSchema(Some(schema))(
                  FilterCompiler.compile(filterJson))))
              if (includes.nonEmpty)
                ndf = ndf.select(includes.map(ndf.col): _*)
              else if (excludes.nonEmpty) ndf = ndf.drop(excludes: _*)
              val all = ndf.collect()
              val afterSkip = skip.map(all.drop).getOrElse(all)
              val out = limit.map(afterSkip.take).getOrElse(afterSkip)
              return openRowCursor(out.iterator, ndf.schema, coll,
                batchSize)
            } else if (!asc) throw new IllegalArgumentException(
              "$natural: -1 is only supported on capped collections " +
                "(ordinary collections have no defined natural order)")
            // $natural: 1 on an ordinary collection = scan order (no
            // explicit sort), mongod's own non-guarantee
          }
          val orderSpec = if (naturalSort.isDefined) Nil else sortSpec
          // a transactional find bypasses the preload (the overlay is
          // the truth inside the transaction, the preload is not)
          val preloaded = if (txnCtx.isDefined) null else localRel.get(coll)
          // capped collections serve from the driver-side snapshot: a
          // Spark scan over their files would race head eviction (a
          // file deleted between listing and read kills the task —
          // retention racing readers); the snapshot re-lists instead,
          // and its size is bounded by the cap budget by construction
          val base = txnCtx.map(t => inTxn(txnCtx)(txnRead(t, coll)))
            .getOrElse(
              if (preloaded != null) preloaded
              else readBase(coll))
          val df0 = base.where(FilterCompiler.withCollation(coll8n)(
            FilterCompiler.withSchema(Some(base.schema))(
              FilterCompiler.compile(filterJson))))
          // collation folds sort only on string-typed keys (the
          // Graft.find contract): keyed fields sort by the binary-
          // comparable collation KEY, plain ci by lower(); the raw
          // column rides as the total-order tiebreak either way
          def sortKeys(k: String, asc: Boolean)
              : Seq[org.apache.spark.sql.Column] = {
            import org.apache.spark.sql.functions.{call_function, lit, lower}
            val isStr = !k.contains('.') &&
              base.schema.find(_.name == k)
                .exists(_.dataType ==
                  org.apache.spark.sql.types.StringType)
            val keys =
              if (isStr && coll8n.exists(_.keyed)) {
                graft.functions.GraftFunctions.register(spark)
                Seq(call_function("collation_key", fcol(k),
                  lit(coll8n.get.spec)), fcol(k))
              } else if (isStr && coll8n.exists(_.caseInsensitive))
                Seq(lower(fcol(k)), fcol(k))
              else Seq(fcol(k))
            keys.map(c => if (asc) c.asc else c.desc)
          }
          val dfS =
            if (orderSpec.isEmpty) df0
            else df0.orderBy(orderSpec.flatMap {
              case (k, a) => sortKeys(k, a) }: _*)
          val df1 =
            if (includes.nonEmpty) dfS.select(includes.map(dfS.col): _*)
            else if (excludes.nonEmpty) dfS.drop(excludes: _*)
            else dfS
          if (preloaded != null) {
            // folded LocalRelation: executeCollect is driver-side, no job
            val all = df1.collect()
            val afterSkip = skip.map(all.drop).getOrElse(all)
            val rows = limit.map(afterSkip.take).getOrElse(afterSkip)
            openRowCursor(rows.iterator, df1.schema, coll, batchSize)
          } else {
            val df2 = skip.map(df1.offset).getOrElse(df1)
            val df = limit.map(df2.limit).getOrElse(df2)
            openCursor(df, coll, batchSize)
          }
        case _ => fields.get("getMore") match {
          case Some(idv) =>
            val id = idv match {
              case JLong(l) => l
              case JInt(i) => i.toLong
              case other => throw new IllegalArgumentException(
                s"getMore id must be int64, got $other")
            }
            val c = cursors.get(id)
            if (c == null)
              // mongod answers CursorNotFound (code 43), not a generic
              // failure — killed/timed-out cursors surface distinctly
              return buildErrorReply(s"cursor id $id not found",
                CursorNotFound)
            if (!c.pinned.compareAndSet(false, true))
              return buildErrorReply(s"cursor id $id is already in use",
                CursorInUse)
            try {
              c.lastUsed = System.nanoTime()
              // mongod: a getMore may resize the cursor's batches
              fields.get("batchSize") match {
                case Some(JInt(n)) if n > 0 => c.batchSize = n.toInt
                case Some(JLong(n)) if n > 0L => c.batchSize = n.toInt
                case _ => ()
              }
              if ((c.tail.isDefined || c.capTail.isDefined) &&
                  !c.rows.hasNext) {
                // awaitData long-poll (mongod's tailable-awaitData
                // getMore): with maxTimeMS the server holds the reply
                // until new events arrive or the window closes —
                // drivers long-poll change streams instead of
                // busy-polling empty batches
                val waitMs = fields.get("maxTimeMS") match {
                  case Some(JInt(m)) => m.toLong
                  case Some(JLong(m)) => m.longValue
                  case _ => 0L
                }
                val deadline = System.nanoTime() + waitMs * 1000000L
                // during an await window a WRITER may be mid-swap on
                // the versioned store — a transient read failure is
                // "no new events yet", not a dead cursor; the next
                // poll sees the committed state. Without a window the
                // failure propagates (plain getMore error semantics).
                def pollOnce(): Boolean =
                  if (c.capTail.isDefined) capPoll(c) else repoll(c)
                def poll(): Boolean =
                  if (waitMs <= 0) pollOnce()
                  else try pollOnce()
                  catch { case scala.util.control.NonFatal(_) => false }
                var got = poll()
                while (!got && !c.capTail.exists(_.lost) &&
                       System.nanoTime() < deadline) {
                  Thread.sleep(100)
                  got = poll()
                }
              }
              if (c.capTail.exists(_.lost)) {
                // the cap's eviction frontier overtook this cursor's
                // position — mongod kills the tailer (code 136)
                retire(id): Unit
                return buildErrorReply(
                  s"tailable cursor $id position was overwritten by " +
                    "the capped collection's eviction",
                  136, "CappedPositionLost")
              }
              val batch = pull(c)
              if (c.tail.exists(_.invalidated)) {
                // the invalidate event closed the stream: this batch
                // is the cursor's last (id 0) and the cursor is gone
                retire(id): Unit
                buildCursorReply(0L, c.ns, "nextBatch", batch,
                  postBatchResumeToken = Some(outToken(c.tail.get)))
              } else if (c.tail.isDefined)
                // tailable: an empty batch keeps the cursor id live;
                // the token tells the driver where this batch ended
                buildCursorReply(id, c.ns, "nextBatch", batch,
                  postBatchResumeToken = Some(outToken(c.tail.get)))
              else if (c.capTail.isDefined)
                // capped tailer: the cursor outlives every drain
                buildCursorReply(id, c.ns, "nextBatch", batch)
              else {
                val more = c.rows.hasNext
                if (!more) retire(id): Unit
                buildCursorReply(if (more) id else 0L, c.ns, "nextBatch",
                  batch)
              }
            } finally c.pinned.set(false)
          case None => throw new IllegalArgumentException(
            s"unsupported command: ${cmd.obj.headOption.map(_._1)
              .getOrElse("<empty>")}")
        }
      }
    }

    def stop(): Unit = {
      running = false; socket.close()
      cursors.keySet().forEach(id => retire(id): Unit)
    }
  }

  // ---- client -------------------------------------------------------------
  //
  // Every client entry point talks through one [[Connection]], as the
  // reference's find/aggregate/insert ride one pymongo connection: it
  // dials, runs the hello/SCRAM handshake, numbers the requests, checks
  // that each reply answers its request, drives getMore and killCursors,
  // and holds the one `ok` check. Cursor replies stay raw bytes for
  // [[parseCursorReply]]; only non-cursor replies are decoded to a tree.

  /** One client connection. The constructor dials (TLS when `tls` names
    * a trust store) and runs the [[handshake]]; OP_COMPRESSED switches
    * on only after it, so hello and SASL always cross uncompressed (wire
    * spec). With `checksum` every request carries a CRC-32C. */
  private[sources] final class Connection(
      host: String, port: Int, db: String,
      credentials: Option[(String, String)],
      tls: Option[(String, String)],
      compress: Boolean = false, checksum: Boolean = false,
      compressor: String = "zlib") {
    private val compId = compressorId(compressor)
    private val sock = clientSocket(host, port, tls)
    private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private var reqId = 0
    private var compressOn = false
    try { handshake(); compressOn = compress }
    catch { case e: Throwable => sock.close(); throw e }

    /** Send `cmd` as the next request and read the reply answering it.
      * The reply may carry flag bits only when `flags` allowed an
      * exhaust stream, whose later frames [[nextFrame]] reads. */
    def roundTrip(cmd: JObject, flags: Int = 0,
                  sequences: Seq[(String, Seq[Array[Byte]])] = Nil): Frame = {
      reqId += 1
      writeFrame(out, reqId, 0, encodeDoc(cmd), flags, compress = compressOn,
        checksum = checksum, compressor = compId, sequences = sequences)
      val f = nextFrame()
      if (f.flags != 0 && (flags & FlagExhaustAllowed) == 0)
        throw new IllegalArgumentException(
          s"OP_MSG: unexpected flagBits 0x${f.flags.toHexString} " +
            "on a non-exhaust exchange")
      f
    }

    /** The next frame answering the last request. */
    private def nextFrame(): Frame = {
      val f = readFrame(in).getOrElse(
        throw new EOFException("server closed the connection"))
      if (f.responseTo != reqId) throw new IllegalStateException(
        s"responseTo ${f.responseTo} does not match requestID $reqId")
      f
    }

    /** One getMore on cursor `id`. `maxTimeMS` > 0 bounds a tailable
      * cursor's awaitData wait; `exhaust` lets the server stream the
      * rest of the cursor as moreToCome replies. */
    def getMore(id: Long, coll: String, batchSize: Int, maxTimeMS: Long = 0L,
                exhaust: Boolean = false): Frame =
      roundTrip(JObject(List(
        "getMore" -> JLong(id),
        "collection" -> JString(coll),
        "batchSize" -> JInt(batchSize)) ++
        (if (maxTimeMS > 0) List("maxTimeMS" -> JLong(maxTimeMS)) else Nil) ++
        List("$db" -> JString(db))),
        flags = if (exhaust) FlagExhaustAllowed else 0)

    /** Best-effort killCursors: a failure is swallowed, so it never masks
      * the error that made the caller give the cursor up. */
    def kill(id: Long, coll: String): Unit =
      try roundTrip(JObject(List(
        "killCursors" -> JString(coll),
        "cursors" -> JArray(List(JLong(id))),
        "$db" -> JString(db)))): Unit
      catch { case scala.util.control.NonFatal(_) => () }

    /** Run one non-cursor command on `db` and return its decoded reply;
      * a refusal raises IllegalArgumentException (see [[ok]]). */
    def command(cmd: JObject,
                sequences: Seq[(String, Seq[Array[Byte]])] = Nil)
        : Map[String, JValue] =
      ok(cmd, decodeDoc(roundTrip(JObject(cmd.obj :+ ("$db" -> JString(db))),
        sequences = sequences).doc).obj.toMap)

    def close(): Unit = sock.close()

    /** `firstCmd`'s cursor on this connection, which it takes over:
      * closing the cursor closes the connection. */
    def cursor(firstCmd: JObject, coll: String, batchSize: Int,
               exhaust: Boolean = false): Cursor =
      new Cursor(firstCmd, coll, batchSize, exhaust)

    /** A command's cursor as its raw reply batches, in order: the first
      * reply's batch, then one getMore per batch, issued only once the
      * previous batch has been taken. With `exhaust`, ONE getMore with
      * exhaustAllowed asks the server to stream every remaining batch
      * as moreToCome replies. A failure mid-cursor best-effort kills the
      * live server cursor (killCursors) before it surfaces. */
    final class Cursor private[Connection] (firstCmd: JObject, coll: String,
                                            batchSize: Int, exhaust: Boolean)
        extends Iterator[Seq[Array[Byte]]] with java.io.Closeable {
      private var id = 0L
      private var streaming = false // inside an exhaust reply stream
      private var pending: Seq[Array[Byte]] = // the batch not yet taken
        try { val (i, docs) = parseCursorReply(roundTrip(firstCmd).doc); id = i; docs }
        catch { case e: Throwable => Connection.this.close(); throw e }

      def hasNext: Boolean = {
        if (pending == null && id != 0L)
          pending = try fetch() catch { case scala.util.control.NonFatal(e) =>
            // a real driver sends killCursors before surfacing the failure
            val live = id
            id = 0L; streaming = false
            kill(live, coll)
            throw e
          }
        pending != null
      }

      def next(): Seq[Array[Byte]] = {
        if (!hasNext) throw new NoSuchElementException("cursor exhausted")
        val b = pending
        pending = null
        b
      }

      private def fetch(): Seq[Array[Byte]] = {
        val f =
          if (streaming) nextFrame()
          else getMore(id, coll, batchSize, exhaust = exhaust)
        streaming = f.moreToCome
        val (nid, docs) = parseCursorReply(f.doc)
        if (exhaust && !streaming && nid != 0L) throw new IllegalStateException(
          "exhaust stream ended with a live cursor")
        if (!streaming) id = nid
        docs
      }

      /** Give the cursor up: an exhaust stream is read to its end first,
        * a live cursor is killed, and the connection closes. */
      def close(): Unit =
        try {
          pending = null
          while (streaming) fetch()
          if (id != 0L) kill(id, coll)
        } catch { case scala.util.control.NonFatal(_) => () }
        finally { id = 0L; Connection.this.close() }
    }

    /** The one `ok` check: `reply` unless the server refused `cmd`, in
      * which case `refused` gets `<command> failed: [codeName] errmsg`
      * plus `labels=…` when the reply carries errorLabels. */
    private def ok(cmd: JObject, reply: Map[String, JValue],
                   refused: String => Exception = new IllegalArgumentException(_))
        : Map[String, JValue] = {
      if (reply.get("ok").contains(JDouble(1.0))) return reply
      def text(k: String): Option[String] =
        reply.get(k).collect { case JString(s) => s }
      val labels = reply.get("errorLabels") match {
        case Some(JArray(ls)) => ls.collect { case JString(s) => s }
        case _ => Nil
      }
      throw refused(s"${cmd.obj.headOption.fold("command")(_._1)} failed: " +
        text("codeName").fold("")(c => s"[$c] ") +
        text("errmsg").getOrElse(org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(JObject(reply.toList)))) +
        (if (labels.isEmpty) "" else labels.mkString(" labels=", ",", "")))
    }

    /** `hello` compressor negotiation, then SCRAM-SHA-256 mutual auth
      * when credentialed. Raises if the server refuses the compressor
      * (IllegalArgumentException) or the authentication
      * (SecurityException). */
    private def handshake(): Unit = {
      if (compress) {
        val hello = decodeDoc(roundTrip(JObject(List(
          "hello" -> JInt(1),
          "compression" -> JArray(List(JString(compressor))),
          "$db" -> JString(db)))).doc)
        val granted = hello.obj.toMap.get("compression") match {
          case Some(JArray(es)) => es.contains(JString(compressor))
          case _ => false
        }
        if (!granted) throw new IllegalArgumentException(
          s"server did not negotiate $compressor compression")
      }
      credentials.foreach { case (user, password) =>
        def bin(v: Option[JValue]): String = v match {
          case Some(JObject(List(("$binary", JString(b64))))) =>
            new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
          case other => throw new SecurityException(
            s"sasl reply payload malformed: $other")
        }
        def sasl(cmd: JObject): Map[String, JValue] =
          ok(cmd, decodeDoc(roundTrip(cmd).doc).obj.toMap,
            new SecurityException(_))
        def payload(s: String): JValue =
          JObject(List("$binary" -> JString(
            java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))))
        val cl = new Scram.Client(user, password)
        val r1 = sasl(JObject(List(
          "saslStart" -> JInt(1),
          "mechanism" -> JString("SCRAM-SHA-256"),
          "payload" -> payload(cl.clientFirst),
          "$db" -> JString(db))))
        val r2 = sasl(JObject(List(
          "saslContinue" -> JInt(1),
          "conversationId" -> JInt(1),
          "payload" -> payload(cl.clientFinal(bin(r1.get("payload")))),
          "$db" -> JString(db))))
        // verify the SERVER's signature — a fake server without
        // ServerKey fails here even if it accepted our proof
        cl.verifyServerFinal(bin(r2.get("payload")))
      }
    }
  }

  /** The `{lsid, txnNumber}` fields of a retryable write's `session`. */
  private def sessionFields(session: Option[(String, Long)])
      : List[(String, JValue)] =
    session.toList.flatMap { case (sid, txn) => List(
      "lsid" -> JObject(List("id" -> JString(sid))),
      "txnNumber" -> JLong(txn)) }

  /** OP_MSG `find`: translate the pushed filters, drive the full
    * find → getMore cursor loop on ONE connection, build the frame in
    * driver memory from the raw batch documents ([[localFrame]]: the
    * schema the graftdocs inference job would infer, no Spark job),
    * and re-apply residuals client-side (limit rides the wire only with
    * zero residuals — the containment contract OpMsgSpec pins). The
    * result lives in driver memory, as the reference's result tables
    * do; the partitioned `graftwire` source reads large results. */
  def find(spark: SparkSession, host: String, port: Int, db: String,
           coll: String, filters: Seq[Filter] = Seq.empty,
           limit: Option[Int] = None, batchSize: Int = 101,
           credentials: Option[(String, String)] = None,
           tls: Option[(String, String)] = None,
           compress: Boolean = false, exhaust: Boolean = false,
           checksum: Boolean = false,
           compressor: String = "zlib"): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val (mqlDoc, residual) = FilterTranslator.translateAll(filters)
    val serverLimit = limit.filter(_ => residual.isEmpty)
    val findCmd = JObject(List(
      "find" -> JString(coll),
      "filter" -> mqlDoc,
      "batchSize" -> JInt(batchSize)) ++
      serverLimit.map(n => "limit" -> JInt(n)).toList ++
      List("$db" -> JString(db)))
    val decoded = localFrame(spark, Seq(fetchDocs(host, port, db, coll,
      findCmd, batchSize, credentials, tls, compress, exhaust, checksum,
      compressor)))
    val filtered = residual.foldLeft(decoded)((df, f) =>
      df.where(filterToColumn(f)))
    if (serverLimit.isEmpty) limit.map(filtered.limit).getOrElse(filtered)
    else filtered
  }

  /** `aggregate` over the wire — the reference's OTHER entry point
    * (aggregate_raw_batches, api.py:252): the pipeline document crosses
    * as BSON inside the aggregate command, the server runs it through
    * the engine's own PipelineCompiler, and the result documents come
    * back through the same cursor loop into a driver-side frame, as
    * for [[find]]. */
  def aggregate(spark: SparkSession, host: String, port: Int, db: String,
                coll: String, pipelineJson: String, batchSize: Int = 101,
                credentials: Option[(String, String)] = None,
                tls: Option[(String, String)] = None,
                compress: Boolean = false, exhaust: Boolean = false,
                checksum: Boolean = false,
                compressor: String = "zlib"): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val stages = graft.mql.Mql.parse(pipelineJson) match {
      case a: JArray => a
      case other => throw new IllegalArgumentException(
        s"aggregate pipeline must be an array, got $other")
    }
    val cmd = JObject(List(
      "aggregate" -> JString(coll),
      "pipeline" -> stages,
      "cursor" -> JObject(List("batchSize" -> JInt(batchSize))),
      "$db" -> JString(db)))
    localFrame(spark, Seq(fetchDocs(host, port, db, coll, cmd, batchSize,
      credentials, tls, compress, exhaust, checksum, compressor)))
  }

  /** `$changeStream` over the wire — the watch entry point: opens a
    * TAILABLE change cursor via `aggregate([{$changeStream: {...}},
    * ...rest])`, drives getMore until the server reports caught-up (an
    * empty `nextBatch`), kills the cursor, and builds the change
    * documents' frame in driver memory, as for [[find]]. Returns the
    * frame plus the final `postBatchResumeToken` — persist it and pass
    * it back as `resumeAfter` to continue past this point with no loss
    * or duplication (OpMsgWatchSpec pins the mid-stream-kill replay).
    * `keyField` names the document-key column (the engine extension —
    * graftdocs collections carry no implicit `_id`). Pass `coll = "*"`
    * for a DB-LEVEL watch (mongod's `db.watch()` → `aggregate: 1`):
    * events from every versioned collection, `ns.coll`
    * distinguishing, one total resume-token order. */
  def watch(spark: SparkSession, host: String, port: Int, db: String,
            coll: String, pipelineJson: String = "[]",
            keyField: String = "_id",
            resumeAfter: Option[String] = None,
            batchSize: Int = 101,
            awaitMs: Long = 0L,
            credentials: Option[(String, String)] = None,
            tls: Option[(String, String)] = None,
            startAfter: Option[String] = None,
            tokenFormat: String = "engine"): (DataFrame, String) = {
    val (docs, token) = watchFetch(host, port, db, coll, pipelineJson,
      keyField, resumeAfter, batchSize, awaitMs, credentials, tls,
      startAfter, tokenFormat)
    (localFrame(spark, Seq(docs)), token)
  }

  /** The raw half of [[watch]]: drive the change cursor to caught-up
    * and return its raw BSON change documents with the final
    * postBatchResumeToken. The graftwire change-stream SOURCE spools
    * them per micro-batch. */
  private[sources] def watchFetch(host: String, port: Int, db: String,
            coll: String, pipelineJson: String = "[]",
            keyField: String = "_id",
            resumeAfter: Option[String] = None,
            batchSize: Int = 101,
            awaitMs: Long = 0L,
            credentials: Option[(String, String)] = None,
            tls: Option[(String, String)] = None,
            startAfter: Option[String] = None,
            tokenFormat: String = "engine")
      : (Seq[Array[Byte]], String) = {
    require(batchSize > 0, "batchSize must be positive")
    require(resumeAfter.isEmpty || startAfter.isEmpty,
      "resumeAfter and startAfter are mutually exclusive")
    val rest = graft.mql.Mql.parse(pipelineJson) match {
      case JArray(ss) => ss
      case other => throw new IllegalArgumentException(
        s"watch pipeline must be an array, got $other")
    }
    val csOpts = JObject(List("keyField" -> JString(keyField)) ++
      (if (tokenFormat == "engine") Nil
       else List("tokenFormat" -> JString(tokenFormat))) ++
      resumeAfter.map(t => "resumeAfter" ->
        JObject(List("_data" -> JString(t)))).toList ++
      startAfter.map(t => "startAfter" ->
        JObject(List("_data" -> JString(t)))).toList)
    val cmd = JObject(List(
      "aggregate" -> (if (coll == "*") JInt(1) else JString(coll)),
      "pipeline" -> JArray(
        JObject(List("$changeStream" -> csOpts)) :: rest),
      "cursor" -> JObject(List("batchSize" -> JInt(batchSize))),
      "$db" -> JString(db)))
    val conn = new Connection(host, port, db, credentials, tls)
    val all = Vector.newBuilder[Array[Byte]]
    var token = resumeAfter.getOrElse("")
    try {
      var reply = conn.roundTrip(cmd).doc
      var (cursorId, docs) = parseCursorReply(reply)
      parseResumeToken(reply).foreach(token = _)
      all ++= docs
      // cursor id 0 on ANY reply means the server closed the stream
      // with that batch (an invalidate event is terminal) — nothing to
      // drive or kill past it
      if (cursorId != 0L) try {
        // tailable loop: a NON-empty batch means more may follow; the
        // first empty batch is the caught-up signal — stop and kill
        // with awaitMs the empty-batch stop signal only fires after
        // the server's awaitData window stayed quiet — "follow until
        // idle for awaitMs", the driver-side change-stream poll shape
        while (docs.nonEmpty && cursorId != 0L) {
          reply = conn.getMore(cursorId, coll, batchSize, awaitMs).doc
          val (nid, more) = parseCursorReply(reply)
          if (nid != 0L && nid != cursorId) throw new IllegalStateException(
            "tailable cursor id changed mid-stream")
          parseResumeToken(reply).foreach(token = _)
          all ++= more
          docs = more
          cursorId = nid
        }
        // change cursors never drain server-side: always kill
      } finally if (cursorId != 0L) conn.kill(cursorId, coll)
    } finally conn.close()
    (all.result(), token)
  }

  /** `insert` over the wire — the reference's WRITE path (write() →
    * insert_many, api.py) over authentic framing: rows encode to raw
    * BSON client-side (the DocWriter sink encoder) and cross as a
    * kind-1 "documents" sequence, batched under mongod's limits
    * (maxWriteBatchSize docs, ~16 MB of document bytes per command).
    * The server appends them to the collection through the normal
    * graftdocs decode. Returns the number of documents the server
    * acknowledged. */
  def insert(spark: SparkSession, host: String, port: Int, db: String,
             coll: String, df: DataFrame,
             credentials: Option[(String, String)] = None,
             tls: Option[(String, String)] = None,
             compress: Boolean = false, checksum: Boolean = false,
             compressor: String = "zlib",
             maxBatchDocs: Int = MaxWriteBatchDocs,
             maxBatchBytes: Long = MaxBsonObjectSize,
             perPartition: Boolean = false): Long = {
    require(maxBatchDocs > 0 && maxBatchBytes > 0, "positive batch limits")
    val schema = df.schema
    if (perPartition) {
      // the 100 TB shape: each Spark partition dials its OWN connection
      // and streams its rows (the reference's thread-pool writes, but
      // executor-distributed) — no driver-side row funnel
      df.rdd.mapPartitions { rows =>
        Iterator(if (rows.hasNext)
          insertIterator(host, port, db, coll, rows, schema, credentials,
            tls, compress, checksum, compressor, maxBatchDocs,
            maxBatchBytes)
        else 0L)
      }.fold(0L)(_ + _)
    } else {
      // driver-side single connection: bounded memory via toLocalIterator
      val jit = df.toLocalIterator()
      val rows = new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = jit.hasNext
        def next(): org.apache.spark.sql.Row = jit.next()
      }
      insertIterator(host, port, db, coll, rows, schema, credentials, tls,
        compress, checksum, compressor, maxBatchDocs, maxBatchBytes)
    }
  }

  /** One insert connection: a [[Connection]] bound to `coll`;
    * [[send]] ships one batch as an insert command with a kind-1
    * "documents" sequence and returns the server-acknowledged count.
    * Used by the imperative [[insert]] and the graftwire DSv2 writer
    * (one channel per task). */
  private[sources] final class InsertChannel(
      host: String, port: Int, db: String, coll: String,
      credentials: Option[(String, String)],
      tls: Option[(String, String)],
      compress: Boolean, checksum: Boolean, compressor: String) {
    private val conn = new Connection(host, port, db, credentials, tls,
      compress, checksum, compressor)

    /** Ship one batch as an insert command. With `session` the command
      * carries {lsid, txnNumber} — the server acknowledges a replayed
      * pair from its transaction log without re-applying (retryable
      * writes; the streaming sink's effectively-once mechanism). */
    def send(batch: Seq[Array[Byte]],
             session: Option[(String, Long)] = None): Long =
      if (batch.isEmpty) 0L
      else replyLong(conn.command(JObject(List(
        "insert" -> JString(coll),
        "ordered" -> JBool(true)) ++ sessionFields(session)),
        Seq("documents" -> batch)), "n")
    def close(): Unit = conn.close()
  }

  /** One [[InsertChannel]]'s insert loop: batched insert commands with
    * kind-1 "documents" sequences. Runs on the driver or inside an
    * executor task (perPartition). */
  private def insertIterator(host: String, port: Int, db: String,
                             coll: String,
                             rows: Iterator[org.apache.spark.sql.Row],
                             schema: org.apache.spark.sql.types.StructType,
                             credentials: Option[(String, String)],
                             tls: Option[(String, String)],
                             compress: Boolean, checksum: Boolean,
                             compressor: String,
                             maxBatchDocs: Int,
                             maxBatchBytes: Long): Long = {
    val ch = new InsertChannel(host, port, db, coll, credentials, tls,
      compress, checksum, compressor)
    var acknowledged = 0L
    try {
      val batch = Seq.newBuilder[Array[Byte]]
      var nDocs = 0
      var nBytes = 0L
      while (rows.hasNext) {
        val doc = graft.bson.BsonBinary.encodeRow(rows.next(), schema)
        batch += doc
        nDocs += 1; nBytes += doc.length
        if (nDocs >= maxBatchDocs || nBytes >= maxBatchBytes) {
          acknowledged += ch.send(batch.result())
          batch.clear(); nDocs = 0; nBytes = 0L
        }
      }
      acknowledged += ch.send(batch.result())
    } finally ch.close()
    acknowledged
  }

  /** One update of mongod's `updates` array: `q`/`u` as MQL JSON text,
    * `multi` (all matching docs vs the first), `upsert`. */
  final case class UpdateSpec(q: String, u: String,
                              multi: Boolean = false,
                              upsert: Boolean = false,
                              arrayFilters: Option[String] = None)

  /** Acknowledged counts of one `update` command. */
  final case class UpdateResult(nMatched: Long, nModified: Long,
                                upsertedIds: Seq[JValue])

  /** One command on a fresh [[Connection]], its reply decoded; a
    * refusal raises `<command> failed: …` (the connection's one `ok`
    * check). The driver-compat surface behind [[update]] / [[delete]] /
    * [[findAndModify]] / [[splitBounds]]. */
  def command(host: String, port: Int, db: String, cmd: JObject,
              credentials: Option[(String, String)] = None,
              tls: Option[(String, String)] = None,
              compress: Boolean = false, checksum: Boolean = false,
              compressor: String = "zlib",
              session: Option[(String, Long)] = None): Map[String, JValue] = {
    val conn = new Connection(host, port, db, credentials, tls, compress,
      checksum, compressor)
    try conn.command(JObject(cmd.obj ++ sessionFields(session)))
    finally conn.close()
  }

  private def replyLong(reply: Map[String, JValue], key: String): Long =
    reply.get(key) match {
      case Some(JLong(n)) => n
      case Some(JInt(n)) => n.toLong
      case Some(JDouble(n)) => n.toLong
      case _ => 0L
    }

  /** mongod's `update` command over the wire: each spec's `q` matches,
    * `u` applies ($-operator doc, replacement doc, or aggregation
    * pipeline), `multi`/`upsert` as documented. With `session` the
    * write is retryable ({lsid, txnNumber} — a replay acknowledges from
    * the server's transaction log without re-applying). */
  def update(host: String, port: Int, db: String, coll: String,
             updates: Seq[UpdateSpec],
             credentials: Option[(String, String)] = None,
             tls: Option[(String, String)] = None,
             compress: Boolean = false, checksum: Boolean = false,
             compressor: String = "zlib",
             session: Option[(String, Long)] = None): UpdateResult = {
    require(updates.nonEmpty, "update needs at least one spec")
    val cmd = JObject(List(
      "update" -> JString(coll),
      "updates" -> JArray(updates.toList.map(s => JObject(List(
        "q" -> graft.mql.Mql.parse(s.q),
        "u" -> graft.mql.Mql.parse(s.u),
        "multi" -> JBool(s.multi),
        "upsert" -> JBool(s.upsert)) ++
        s.arrayFilters.map(a =>
          "arrayFilters" -> graft.mql.Mql.parse(a)).toList)))))
    val reply = command(host, port, db, cmd, credentials, tls, compress,
      checksum, compressor, session)
    val upserted = reply.get("upserted") match {
      case Some(JArray(es)) => es.flatMap {
        case JObject(eo) => eo.collectFirst { case ("_id", v) => v }
        case _ => None
      }
      case _ => Nil
    }
    UpdateResult(replyLong(reply, "n") - upserted.size,
      replyLong(reply, "nModified"), upserted)
  }

  /** mongod's `delete` command: each spec is (q JSON, limit) with
    * limit 0 = every matching document, 1 = one. Returns n deleted. */
  def delete(host: String, port: Int, db: String, coll: String,
             deletes: Seq[(String, Int)],
             credentials: Option[(String, String)] = None,
             tls: Option[(String, String)] = None,
             compress: Boolean = false, checksum: Boolean = false,
             compressor: String = "zlib",
             session: Option[(String, Long)] = None): Long = {
    require(deletes.nonEmpty, "delete needs at least one spec")
    val cmd = JObject(List(
      "delete" -> JString(coll),
      "deletes" -> JArray(deletes.toList.map { case (q, limit) =>
        JObject(List("q" -> graft.mql.Mql.parse(q),
          "limit" -> JInt(limit))) })))
    replyLong(command(host, port, db, cmd, credentials, tls, compress,
      checksum, compressor, session), "n")
  }

  /** mongod's `findAndModify`: one document selected by query + sort,
    * removed or updated, pre-image (default) or post-image (`returnNew`)
    * returned as a decoded BSON document (None when nothing matched). */
  def findAndModify(host: String, port: Int, db: String, coll: String,
                    query: String, sort: Option[String] = None,
                    update: Option[String] = None, remove: Boolean = false,
                    returnNew: Boolean = false, upsert: Boolean = false,
                    fields: Option[String] = None,
                    credentials: Option[(String, String)] = None,
                    tls: Option[(String, String)] = None,
                    session: Option[(String, Long)] = None)
      : Option[JObject] = {
    val cmd = JObject(List(
      "findAndModify" -> JString(coll),
      "query" -> graft.mql.Mql.parse(query)) ++
      sort.map(s => "sort" -> graft.mql.Mql.parse(s)).toList ++
      update.map(u => "update" -> graft.mql.Mql.parse(u)).toList ++
      (if (remove) List("remove" -> JBool(true)) else Nil) ++
      (if (returnNew) List("new" -> JBool(true)) else Nil) ++
      (if (upsert) List("upsert" -> JBool(true)) else Nil) ++
      fields.map(f => "fields" -> graft.mql.Mql.parse(f)).toList)
    command(host, port, db, cmd, credentials, tls,
      session = session).get("value") match {
      case Some(o: JObject) => Some(o)
      case _ => None
    }
  }

  /** splitVector over OP_MSG: quantile split points for `key`, the
    * planning round trip behind [[findParallel]]. */
  def splitBounds(host: String, port: Int, db: String, coll: String,
                  key: String, numSplits: Int,
                  credentials: Option[(String, String)] = None,
                  tls: Option[(String, String)] = None): Seq[Double] =
    command(host, port, db, JObject(List(
      "splitVector" -> JString(coll),
      "key" -> JString(key),
      "n" -> JInt(numSplits))), credentials, tls).get("splitKeys") match {
      case Some(JArray(es)) => es.map {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case JLong(l) => l.toDouble
        case other => throw new IllegalArgumentException(
          s"splitKeys carries a non-numeric bound: $other")
      }
      case other => throw new IllegalArgumentException(
        s"splitVector reply missing splitKeys: $other")
    }

  /** Parallel-cursor `find` over OP_MSG — the reference's thread-pool
    * raw-batch read (api.py:181-199) on authentic framing: plan
    * half-open key ranges from server-side quantiles (splitVector),
    * drive ONE full find → getMore cursor per range concurrently, build
    * one driver-side frame from every range's documents (the schema
    * folded per cursor and merged in range order, as for [[find]]), and
    * re-apply residuals client-side. Ranges share endpoints, so their
    * union is exactly the filtered collection. */
  def findParallel(spark: SparkSession, host: String, port: Int, db: String,
                   coll: String, splitKey: String, numSplits: Int,
                   filters: Seq[Filter] = Seq.empty,
                   limit: Option[Int] = None, batchSize: Int = 101,
                   credentials: Option[(String, String)] = None,
                   tls: Option[(String, String)] = None,
                   compress: Boolean = false, checksum: Boolean = false,
                   compressor: String = "zlib"): DataFrame = {
    require(numSplits >= 1, s"numSplits must be >= 1, got $numSplits")
    val bounds =
      if (numSplits == 1) Seq.empty
      else splitBounds(host, port, db, coll, splitKey, numSplits,
        credentials, tls)
    if (bounds.isEmpty)
      return find(spark, host, port, db, coll, filters, limit, batchSize,
        credentials, tls, compress = compress, checksum = checksum,
        compressor = compressor)
    val ranges = keyRanges(splitKey, bounds)
    val (_, residual) = FilterTranslator.translateAll(filters)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(ranges.size, 8))
    val perRange =
      try ranges.map { r =>
        pool.submit(new java.util.concurrent.Callable[Seq[Array[Byte]]] {
          def call(): Seq[Array[Byte]] = {
            // ranges are always translatable, so the residual set is
            // identical across cursors — re-applied once, below
            val (mqlDoc, _) = FilterTranslator.translateAll(filters :+ r)
            val cmd = JObject(List(
              "find" -> JString(coll),
              "filter" -> mqlDoc,
              "batchSize" -> JInt(batchSize),
              "$db" -> JString(db)))
            fetchDocs(host, port, db, coll, cmd, batchSize, credentials, tls,
              compress, exhaust = false, checksum, compressor)
          }
        })
      }.map(_.get())
      finally pool.shutdown()
    val filtered = residual.foldLeft(localFrame(spark, perRange))((df, f) =>
      df.where(filterToColumn(f)))
    limit.map(filtered.limit).getOrElse(filtered)
  }

  /** The half-open ranges of `key` that the sorted, non-empty `bounds`
    * cut, nulls in the first: one cursor's filter each, their union
    * every document. */
  private[sources] def keyRanges(key: String, bounds: Seq[Double]): Seq[Filter] = {
    import org.apache.spark.sql.sources._
    val mids = bounds.zip(bounds.tail).map { case (lo, hi) =>
      And(GreaterThanOrEqual(key, lo), LessThan(key, hi)): Filter }
    (Or(IsNull(key), LessThan(key, bounds.head)) +: mids) :+
      GreaterThanOrEqual(key, bounds.last)
  }

  /** Every raw document of `firstCmd`'s cursor, in order, on a fresh
    * [[Connection]]. With `compress`, every message after the handshake
    * crosses as OP_COMPRESSED both ways. */
  private def fetchDocs(host: String, port: Int, db: String, coll: String,
                         firstCmd: JObject, batchSize: Int,
                         credentials: Option[(String, String)],
                         tls: Option[(String, String)], compress: Boolean,
                         exhaust: Boolean, checksum: Boolean,
                         compressor: String): Seq[Array[Byte]] = {
    val cursor = new Connection(host, port, db, credentials, tls, compress,
      checksum, compressor).cursor(firstCmd, coll, batchSize, exhaust)
    try cursor.flatten.toVector finally cursor.close()
  }

  /** One frame of cursors' raw documents, held in driver memory as the
    * reference's result tables are. The schema is the graftdocs
    * inference job's own fold — one [[graft.bson.SchemaInference.typeTree]]
    * per cursor, merged in cursor order, as the job folds one task per
    * batch file — so returning the frame runs no Spark job. The rows
    * decode only when a query runs ([[CursorRelation]]). No documents:
    * the empty frame. */
  private[sources] def localFrame(spark: SparkSession,
                                  cursors: Seq[Seq[Array[Byte]]]): DataFrame = {
    import graft.bson.{BsonBinary, SchemaInference}
    val parts = cursors.filter(_.nonEmpty).map { docs =>
      val out = new ByteArrayOutputStream(docs.map(_.length).sum)
      docs.foreach(d => out.write(d, 0, d.length))
      out.toByteArray
    }
    if (parts.isEmpty) return spark.emptyDataFrame
    val schema = SchemaInference.mergeTrees(parts.map(bytes =>
      SchemaInference.typeTree(BsonBinary.documents(
        new java.io.ByteArrayInputStream(bytes)))))
    spark.baseRelationToDataFrame(
      new CursorRelation(spark.sqlContext, schema, parts))
  }

  /** [[localFrame]]'s relation: one partition per cursor's concatenated
    * documents, decoded at execution on the direct bytes→vectors path
    * ([[BsonColumnarReader]], strict like a default graftdocs read) over
    * only the columns the query reads — a column it never reads is never
    * decoded, so its type mismatches cannot fail the query. */
  private class CursorRelation(val sqlContext: org.apache.spark.sql.SQLContext,
                               val schema: org.apache.spark.sql.types.StructType,
                               parts: Seq[Array[Byte]])
    extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedScan {
    override def sizeInBytes: Long = parts.map(_.length.toLong).sum
    // buildScan returns InternalRows straight from the column vectors
    override def needConversion: Boolean = false
    override def buildScan(requiredColumns: Array[String])
        : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
      import scala.jdk.CollectionConverters._
      val required = org.apache.spark.sql.types.StructType(
        requiredColumns.map(schema(_)))
      sqlContext.sparkContext.parallelize(parts, parts.size).flatMap { bytes =>
        val reader = new BsonColumnarReader(
          new java.io.ByteArrayInputStream(bytes), required, strict = true)
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => reader.close())
        Iterator.continually(reader.next()).takeWhile(identity)
          .flatMap(_ => reader.get().rowIterator().asScala)
      }.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    }
  }

  /** Residual-filter evaluation: the Spark Column form of a pushed
    * Filter the wire could not translate — re-applied client-side
    * after decode (the containment half of the pushdown contract). */
  private[sources] def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === v
      case EqualNullSafe(a, v) => col(a) <=> v
      case GreaterThan(a, v) => col(a) > v
      case GreaterThanOrEqual(a, v) => col(a) >= v
      case LessThan(a, v) => col(a) < v
      case LessThanOrEqual(a, v) => col(a) <= v
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case StringStartsWith(a, s) => col(a).startsWith(s)
      case StringEndsWith(a, s) => col(a).endsWith(s)
      case StringContains(a, s) => col(a).contains(s)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(inner) => !filterToColumn(inner)
      case other => throw new IllegalArgumentException(
        s"unsupported residual filter $other")
    }
  }
}
