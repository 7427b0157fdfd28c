package graft.bson

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.math.BigInteger
import java.nio.{ByteBuffer, ByteOrder}

/** Raw binary BSON codec (public spec, bsonspec.org) — the native wire
  * format the reference's decode core consumes (`process_bson_stream`
  * over a `bson_reader_t`, bindings/python/pymongoarrow/lib.pyx:296-311).
  *
  * The parser produces the SAME canonical extended-JSON `JsonNode` shape
  * the text path produces ({"$date": ms}, {"$oid": hex}, {"$binary":
  * {base64, subType}}, {"$numberDecimal": s}, {"$code": s}), so
  * `DocDecoder.convert` and `SchemaInference` consume binary and text
  * documents through one code path — decode semantics (coercion matrix,
  * null-padding, metadata dispatch) cannot drift between formats.
  *
  * The encoder is the write-side twin: one typed Row → one BSON document
  * (int32 LE length-prefixed, so files are plain concatenated documents —
  * the mongodump format).
  */
object BsonBinary {
  private val F = JsonNodeFactory.instance

  /** BSON decimal128 exponent bias (IEEE 754-2008 BID). */
  private val DecimalBias = 6176

  /** Per-document size cap, enforced symmetrically: the parser rejects
    * larger length prefixes (corruption guard), so the encoder must
    * refuse to produce them — a write the engine's own reader cannot
    * parse would break the round-trip invariant silently. */
  val MaxDocBytes: Int = 64 * 1024 * 1024

  // ---- parse -------------------------------------------------------------

  /** The framing rule of a stream of concatenated BSON documents, the one
    * copy every reader of such a stream uses: an int32 little-endian
    * length prefix, at least 5 and at most [[MaxDocBytes]], counting
    * itself, then the document body. The prefix is read byte by byte, so
    * `in` should be buffered. Bodies land in one reused buffer that grows
    * to the largest document. */
  final class Frames(in: InputStream) {
    private var buf = Array.emptyByteArray

    /** The body [[next]] last read (length prefix excluded, trailing 0x00
      * included); valid up to the length it returned. */
    def body: Array[Byte] = buf

    /** Body length of the next document, or -1 at a clean end of stream. */
    private def bodyLength(): Int = {
      val b0 = in.read()
      if (b0 < 0) return -1
      val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
      if (b3 < 0) throw new EOFException("truncated BSON length prefix")
      val len = b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
      if (len < 5 || len > MaxDocBytes) throw new GraftTypeError(
        s"invalid BSON document length $len")
      len - 4
    }

    private def truncated(n: Int, got: Long) =
      new EOFException(s"truncated BSON document: expected $n bytes, got $got")

    /** Read the next document's body into [[body]]; its length, or -1 at
      * a clean end of stream. */
    def next(): Int = {
      val n = bodyLength()
      if (n > 0) {
        if (buf.length < n) buf = new Array[Byte](Integer.highestOneBit(n) * 2)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw truncated(n, off)
          off += r
        }
      }
      n
    }

    /** Step over the next document without reading its body; false at a
      * clean end of stream. */
    def skip(): Boolean = {
      val n = bodyLength()
      var left = n.toLong
      while (left > 0) {
        val s = in.skip(left)
        if (s > 0) left -= s
        else if (in.read() < 0) throw truncated(n, n - left)
        else left -= 1
      }
      n >= 0
    }
  }

  /** Iterate the documents of a BSON stream (concatenated length-prefixed
    * documents, the `.bson` dump layout). Reads lazily; the caller owns
    * the stream. */
  def documents(in: InputStream): Iterator[ObjectNode] = new Iterator[ObjectNode] {
    private val frames = new Frames(in)
    private var nextDoc: ObjectNode = _
    private var done = false

    private def advance(): Unit = {
      val n = frames.next()
      if (n < 0) { done = true; return }
      nextDoc = parseBody(frames.body, n)
    }

    override def hasNext: Boolean = {
      if (!done && nextDoc == null) advance()
      !done && nextDoc != null
    }
    override def next(): ObjectNode = {
      if (!hasNext) throw new NoSuchElementException
      val d = nextDoc; nextDoc = null; d
    }
  }

  /** Parse one document from the first `n` bytes of `body` (everything
    * after the int32 length, including the trailing 0x00). */
  def parseBody(body: Array[Byte], n: Int): ObjectNode =
    parseDoc(ByteBuffer.wrap(body, 0, n).order(ByteOrder.LITTLE_ENDIAN))

  private def parseDoc(buf: ByteBuffer): ObjectNode = {
    val doc = F.objectNode()
    var t = buf.get()
    while (t != 0) {
      val name = cstring(buf)
      doc.set[JsonNode](name, parseValue(t, buf))
      t = buf.get()
    }
    doc
  }

  private def cstring(buf: ByteBuffer): String = {
    val start = buf.position()
    while (buf.get() != 0) {}
    val len = buf.position() - start - 1
    val bytes = new Array[Byte](len)
    val end = buf.position()
    buf.position(start); buf.get(bytes); buf.position(end)
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def bsonString(buf: ByteBuffer): String = {
    val len = buf.getInt() // includes trailing 0x00
    if (len < 1) throw new GraftTypeError(s"invalid BSON string length $len")
    val bytes = new Array[Byte](len - 1)
    buf.get(bytes)
    if (buf.get() != 0) throw new GraftTypeError("BSON string missing terminator")
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def parseValue(t: Byte, buf: ByteBuffer): JsonNode = t match {
    case 0x01 => // double; NaN/Inf survive as numeric nodes (decoder nulls NaN)
      F.numberNode(buf.getDouble())
    case 0x02 => F.textNode(bsonString(buf))
    case 0x03 => // embedded document
      buf.getInt(); parseDoc(buf)
    case 0x04 => // array: a document with "0","1",... keys, order preserved
      buf.getInt()
      val arr = F.arrayNode()
      var et = buf.get()
      while (et != 0) {
        cstring(buf) // index key, positional by construction
        arr.add(parseValue(et, buf))
        et = buf.get()
      }
      arr
    case 0x05 => // binary: {"$binary": {base64, subType}} (canonical ext-JSON)
      val len = buf.getInt()
      val subtype = buf.get() & 0xFF
      val bytes = new Array[Byte](len)
      buf.get(bytes)
      val b = F.objectNode()
      b.put("base64", java.util.Base64.getEncoder.encodeToString(bytes))
      b.put("subType", f"$subtype%02x")
      F.objectNode().set[ObjectNode]("$binary", b).asInstanceOf[ObjectNode]
    case 0x06 => F.nullNode() // undefined (deprecated) → null
    case 0x07 => // ObjectId: 12 bytes → {"$oid": hex}
      val bytes = new Array[Byte](12)
      buf.get(bytes)
      F.objectNode().put("$oid", bytes.map(x => f"${x & 0xFF}%02x").mkString)
    case 0x08 => F.booleanNode(buf.get() != 0)
    case 0x09 => // UTC datetime: int64 epoch ms → {"$date": ms}
      F.objectNode().put("$date", buf.getLong())
    case 0x0A => F.nullNode()
    case 0x0B => // regex (no typed twin; decodes null unless declared)
      val r = F.objectNode()
      r.put("pattern", cstring(buf)); r.put("options", cstring(buf))
      F.objectNode().set[ObjectNode]("$regularExpression", r).asInstanceOf[ObjectNode]
    case 0x0D => F.objectNode().put("$code", bsonString(buf))
    case 0x0E => F.textNode(bsonString(buf)) // symbol (deprecated) → string
    case 0x10 => F.numberNode(buf.getInt())
    case 0x11 => // internal replication timestamp: {t seconds, i increment}
      val i = buf.getInt(); val tSecs = buf.getInt()
      val ts = F.objectNode()
      ts.put("t", tSecs.toLong); ts.put("i", i.toLong)
      F.objectNode().set[ObjectNode]("$timestamp", ts).asInstanceOf[ObjectNode]
    case 0x12 => // int64 must stay a LongNode: the factory canonicalizes
      // small longs to IntNode, which would mis-infer int64 as int32
      com.fasterxml.jackson.databind.node.LongNode.valueOf(buf.getLong())
    case 0x13 => // decimal128, BID encoding (low 64 then high 64, LE)
      val low = buf.getLong(); val high = buf.getLong()
      F.objectNode().put("$numberDecimal", decimal128ToString(high, low))
    case other => throw new GraftTypeError(
      f"unsupported BSON element type 0x$other%02x")
  }

  /** IEEE 754-2008 decimal128, Binary Integer Decimal significand
    * (the BSON encoding): sign(1) | combination | coefficient. */
  private[bson] def decimal128ToString(high: Long, low: Long): String = {
    val negative = (high >>> 63) == 1L
    // combination field top bits 11 → either Inf/NaN or the "large
    // coefficient" form (> 2^113, which the spec treats as zero)
    if ((high >>> 61 & 0x3L) == 0x3L) {
      if ((high >>> 58 & 0x1FL) == 0x1FL) return "NaN"
      if ((high >>> 58 & 0x1FL) == 0x1EL) return if (negative) "-Infinity" else "Infinity"
      val exp = ((high >>> 47) & 0x3FFFL).toInt - DecimalBias
      return new java.math.BigDecimal(BigInteger.ZERO, -exp).toPlainString
    }
    val exp = ((high >>> 49) & 0x3FFFL).toInt - DecimalBias
    val coefHigh = high & 0x1FFFFFFFFFFFFL // 49 bits
    val coef = BigInteger.valueOf(coefHigh).shiftLeft(64)
      .or(new BigInteger(java.lang.Long.toUnsignedString(low)))
    val signed = if (negative) coef.negate() else coef
    new java.math.BigDecimal(signed, -exp).toPlainString
  }

  /** "$numberDecimal" string → 16-byte BID payload (low LE then high LE,
    * the BSON element layout). NaN/±Infinity map to their canonical
    * encodings — the full-domain passthrough behind
    * [[graft.schema.MSchema.decimalRawField]], lifting the
    * DecimalType(38,10) NaN/Inf/clamped→null restriction (SURVEY §7.4)
    * for callers that opt in. */
  private[graft] def decimal128Bid(s: String): Array[Byte] = {
    val (high, low) = s match {
      case "NaN"       => (0x7c00000000000000L, 0L)
      case "Infinity"  => (0x7800000000000000L, 0L)
      case "-Infinity" => (0xf800000000000000L, 0L)
      case _ => decimal128Bits(new java.math.BigDecimal(s))
    }
    val b = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putLong(low); b.putLong(high)
    b.array()
  }

  /** Inverse of [[decimal128Bid]]: BID payload → canonical string. */
  private[graft] def decimal128BidToString(bytes: Array[Byte]): String = {
    require(bytes.length == 16, s"BID payload must be 16 bytes, got ${bytes.length}")
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val low = b.getLong(); val high = b.getLong()
    decimal128ToString(high, low)
  }

  // ---- encode ------------------------------------------------------------

  private def writeInt(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
  }
  private def writeLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 }
  }
  private def writeCString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.contains(0.toByte)) throw new IllegalArgumentException(
      s"BSON field name may not contain NUL: $s")
    out.write(b, 0, b.length); out.write(0)
  }
  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeInt(out, b.length + 1); out.write(b, 0, b.length); out.write(0)
  }

  /** Encode one typed Row as a standalone BSON document. Field metadata
    * drives extension types exactly like the decoder: objectId-tagged
    * binary → 0x07, code-tagged string → 0x0D. */
  def encodeRow(row: Row, schema: StructType): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    writeDoc(out, schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      (f.name, if (row.isNullAt(i)) null else row.get(i), f.dataType, f.metadata)
    })
    if (out.size() > MaxDocBytes) throw new IllegalArgumentException(
      s"BSON document exceeds the $MaxDocBytes-byte cap (${out.size()} bytes); " +
        "split oversized rows before writing")
    out.toByteArray
  }

  private def writeDoc(out: ByteArrayOutputStream,
                       fields: Seq[(String, Any, DataType, Metadata)]): Unit = {
    val body = new ByteArrayOutputStream(256)
    fields.foreach { case (n, v, dt, m) => writeElement(body, n, v, dt, m) }
    writeInt(out, 4 + body.size + 1)
    body.writeTo(out)
    out.write(0)
  }

  private def bsonTag(meta: Metadata): Option[String] =
    if (meta.contains(graft.schema.MSchema.BsonTypeKey))
      Some(meta.getString(graft.schema.MSchema.BsonTypeKey)) else None

  private def writeElement(out: ByteArrayOutputStream, name: String, v: Any,
                           dt: DataType, meta: Metadata): Unit = {
    def header(t: Int): Unit = { out.write(t); writeCString(out, name) }
    v match {
      case null => header(0x0A)
      case x: Int => header(0x10); writeInt(out, x)
      case x: Long => header(0x12); writeLong(out, x)
      case x: Double => header(0x01); writeLong(out, java.lang.Double.doubleToLongBits(x))
      // narrow numerics may survive autoConvert inside structs/arrays —
      // widen to their BSON twins like the text sink does
      case x: Float => header(0x01); writeLong(out, java.lang.Double.doubleToLongBits(x.toDouble))
      case x: Short => header(0x10); writeInt(out, x.toInt)
      case x: Byte => header(0x10); writeInt(out, x.toInt)
      case x: Boolean => header(0x08); out.write(if (x) 1 else 0)
      case x: String =>
        if (bsonTag(meta).contains("code")) { header(0x0D); writeString(out, x) }
        else { header(0x02); writeString(out, x) }
      case x: java.sql.Timestamp => header(0x09); writeLong(out, x.getTime)
      case x: java.time.Instant => header(0x09); writeLong(out, x.toEpochMilli)
      case x: java.time.LocalDateTime => // TimestampNTZ: treat as UTC ms
        header(0x09); writeLong(out, x.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      case x: java.sql.Date => // UTC midnight (decoder floors ms by UTC day)
        header(0x09); writeLong(out, x.toLocalDate.toEpochDay * 86400000L)
      case x: java.math.BigDecimal =>
        val (high, low) = decimal128Bits(x)
        header(0x13); writeLong(out, low); writeLong(out, high)
      case x: Array[Byte] =>
        if (bsonTag(meta).contains("objectId")) {
          if (x.length != 12) throw new IllegalArgumentException(
            s"field '$name': ObjectId must be 12 bytes, got ${x.length}")
          header(0x07); out.write(x, 0, x.length)
        } else {
          header(0x05); writeInt(out, x.length)
          out.write(graft.schema.MSchema.binarySubtype(meta)); out.write(x, 0, x.length)
        }
      case x: Row =>
        val st = dt.asInstanceOf[StructType]
        header(0x03)
        writeDoc(out, st.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
          (f.name, if (x.isNullAt(i)) null else x.get(i), f.dataType, f.metadata)
        })
      case x: scala.collection.Seq[_] =>
        val et = dt.asInstanceOf[ArrayType].elementType
        header(0x04)
        writeDoc(out, x.toIndexedSeq.zipWithIndex.map { case (e, i) =>
          (i.toString, e, et, meta)
        })
      case other => throw new IllegalArgumentException(
        s"field '$name': cannot BSON-encode $other of declared type $dt")
    }
  }

  /** BigDecimal → decimal128 BID bits (normal form). */
  private[bson] def decimal128Bits(v: java.math.BigDecimal): (Long, Long) = {
    val unscaled = v.unscaledValue()
    val negative = unscaled.signum() < 0
    val coef = unscaled.abs()
    if (coef.bitLength() > 113) throw new IllegalArgumentException(
      s"decimal128 coefficient overflow: $v")
    val biasedExp = -v.scale() + DecimalBias
    if (biasedExp < 0 || biasedExp > 0x3FFF) throw new IllegalArgumentException(
      s"decimal128 exponent out of range: $v")
    val low = coef.longValue() // low 64 bits (BigInteger truncates)
    val coefHigh = coef.shiftRight(64).longValue() // ≤ 49 bits
    var high = (biasedExp.toLong << 49) | coefHigh
    if (negative) high |= Long.MinValue
    (high, low)
  }
}
