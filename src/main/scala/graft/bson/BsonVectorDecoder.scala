package graft.bson

import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Direct BSON→column-vector decode: one pass over each document's
  * elements appending straight into `WritableColumnVector`s — no
  * intermediate `JsonNode` tree, no base64/hex text round-trips, and
  * undeclared fields are SKIPPED as byte ranges without materializing
  * anything (column pruning at the wire level). This is the reference's
  * exact architecture — `process_bson_stream` walking a `bson_reader_t`
  * into per-column Arrow builders (lib.pyx:296-311, 436-870). The
  * tree-based decode (BsonBinary → DocDecoder) is the per-document
  * reference it is specified and tested against.
  *
  * SEMANTIC CONTRACT: every (declared type × BSON element type) cell
  * must behave exactly like `DocDecoder.convert` on the ext-JSON node
  * `BsonBinary.parseValue` would have produced — the coercion matrix
  * (cross-accept, truncation, NaN→null, unconditional overflow raises),
  * strict-vs-null error rule, missing-field null catch-up, nested
  * recursion, and the single-$-key wrapper rejection. Pinned by
  * BsonVectorParitySpec (direct path vs tree path over the matrix).
  * One documented divergence: duplicate field names in one document
  * keep the FIRST value here (the tree's ObjectNode keeps the last);
  * BSON names are required unique by the spec.
  */
/** The one shared unscaled-decimal vector append: precision decides the
  * physical layout (int / long / byte-array unscaled), and every reader
  * of those vectors assumes exactly this encoding — a single definition
  * keeps the four call sites (both direct decoders, the tree-path
  * builder, the filter-compaction copier) from ever drifting. */
private[graft] object VectorAppend {
  import org.apache.spark.sql.types.{Decimal, DecimalType}
  def unscaled(d: DecimalType, dec: Decimal, v: WritableColumnVector): Unit =
    if (d.precision <= Decimal.MAX_INT_DIGITS) v.appendInt(dec.toUnscaledLong.toInt)
    else if (d.precision <= Decimal.MAX_LONG_DIGITS) v.appendLong(dec.toUnscaledLong)
    else {
      val b = dec.toJavaBigDecimal.unscaledValue.toByteArray
      v.appendByteArray(b, 0, b.length)
    }
}

private[graft] object BsonVectorDecoder {

  // BSON element type bytes
  private final val TDouble = 0x01.toByte
  private final val TString = 0x02.toByte
  private final val TDoc = 0x03.toByte
  private final val TArray = 0x04.toByte
  private final val TBinary = 0x05.toByte
  private final val TUndef = 0x06.toByte
  private final val TOid = 0x07.toByte
  private final val TBool = 0x08.toByte
  private final val TDate = 0x09.toByte
  private final val TNull = 0x0A.toByte
  private final val TRegex = 0x0B.toByte
  private final val TCode = 0x0D.toByte
  private final val TSymbol = 0x0E.toByte
  private final val TInt32 = 0x10.toByte
  private final val TTs = 0x11.toByte
  private final val TInt64 = 0x12.toByte
  private final val TDec128 = 0x13.toByte

  /** BSON type name as DocDecoder.bsonTypeName renders the equivalent
    * ext-JSON node (error-message parity). */
  private def typeName(t: Byte): String = t match {
    case TDouble => "double"
    case TString | TSymbol => "string"
    case TDoc => "document"
    case TArray => "array"
    case TBinary => "binary"
    case TOid => "objectId"
    case TBool => "bool"
    case TDate => "datetime"
    case TNull | TUndef => "null"
    case TCode => "code"
    case TInt32 => "int32"
    case TInt64 => "int64"
    case TDec128 => "decimal128"
    case other => f"0x$other%02x"
  }

  /** Read a cstring (element name); returns it as a String. */
  private def cstring(buf: ByteBuffer): String = {
    val start = buf.position()
    while (buf.get() != 0) {}
    val len = buf.position() - start - 1
    new String(buf.array(), buf.arrayOffset() + start, len,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Advance past one value of element type `t` without materializing. */
  private def skipValue(t: Byte, buf: ByteBuffer): Unit = t match {
    case TDouble | TDate | TInt64 | TTs => buf.position(buf.position() + 8)
    case TString | TCode | TSymbol =>
      val len = buf.getInt(); buf.position(buf.position() + len)
    case TDoc | TArray =>
      val len = buf.getInt(); buf.position(buf.position() + len - 4)
    case TBinary =>
      val len = buf.getInt(); buf.position(buf.position() + 1 + len)
    case TUndef | TNull => ()
    case TOid => buf.position(buf.position() + 12)
    case TBool => buf.position(buf.position() + 1)
    case TRegex => while (buf.get() != 0) {}; while (buf.get() != 0) {}
    case TInt32 => buf.position(buf.position() + 4)
    case TDec128 => buf.position(buf.position() + 16)
    case other => throw new GraftTypeError(
      f"unsupported BSON element type 0x$other%02x")
  }

  /** Per-declared-field writer: appends exactly one value (or null) per
    * document into its vector. NOT thread-safe (per-partition use). */
  abstract class FieldWriter(field: StructField) {
    protected val strict0: Boolean

    /** Append the value of element type `t` whose payload starts at
      * `buf`'s position; must consume exactly the payload. */
    def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit

    def writeNull(v: WritableColumnVector): Unit = v.appendNull()

    /** Null elements bypass type dispatch (DocDecoder.convert returns
      * null for isNull nodes before looking at the declared type). */
    final def writeOrNull(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit =
      if (t == TNull || t == TUndef) writeNull(v) else write(t, buf, v)

    /** Mismatch: strict raises the same message the tree path raises;
      * permissive skips the payload and appends null. */
    protected final def fail(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = {
      if (strict0) throw new GraftTypeError(
        s"field '${field.name}': got unexpected type ${typeName(t)} " +
          s"expecting ${field.dataType.simpleString}")
      skipValue(t, buf)
      writeNull(v)
    }

    protected final def overflow(what: Any): Nothing =
      throw new GraftTypeError(
        s"field '${field.name}': ${field.dataType.simpleString} overflow: $what")
  }

  def writerFor(field: StructField, strict: Boolean): FieldWriter = {
    val meta = field.metadata
    def bsonType: String =
      if (meta.contains(graft.schema.MSchema.BsonTypeKey))
        meta.getString(graft.schema.MSchema.BsonTypeKey) else ""

    field.dataType match {
      case IntegerType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TBool => v.appendInt(if (buf.get() != 0) 1 else 0)
          case TInt32 => v.appendInt(buf.getInt())
          case TInt64 =>
            val l = buf.getLong()
            if (l < Int.MinValue || l > Int.MaxValue) overflow(l)
            v.appendInt(l.toInt)
          case TDouble =>
            val d = buf.getDouble()
            if (d.isNaN) v.appendNull()
            else if (d < Int.MinValue.toDouble || d > Int.MaxValue.toDouble) overflow(d)
            else v.appendInt(d.toInt) // truncate toward zero (lib.pyx:530-534)
          case _ => fail(t, buf, v)
        }
      }

      case LongType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TBool => v.appendLong(if (buf.get() != 0) 1L else 0L)
          case TInt32 => v.appendLong(buf.getInt().toLong)
          case TInt64 => v.appendLong(buf.getLong())
          case TDouble =>
            val d = buf.getDouble()
            if (d.isNaN) v.appendNull()
            else if (d < -9.223372036854776e18 || d >= 9.223372036854776e18) overflow(d)
            else v.appendLong(d.toLong)
          case _ => fail(t, buf, v)
        }
      }

      case DoubleType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TBool => v.appendDouble(if (buf.get() != 0) 1.0 else 0.0)
          case TInt32 => v.appendDouble(buf.getInt().toDouble)
          case TInt64 => v.appendDouble(buf.getLong().toDouble)
          case TDouble =>
            val d = buf.getDouble()
            if (d.isNaN) v.appendNull() else v.appendDouble(d)
          // decimal128 renders as a numeric node on the tree path only
          // via $numberDecimal (an object) → convert fails it; mirror
          case _ => fail(t, buf, v)
        }
      }

      case StringType =>
        val isCode = bsonType == "code"
        new FieldWriter(field) {
          val strict0 = strict
          private def appendStr(buf: ByteBuffer, v: WritableColumnVector): Unit = {
            val len = buf.getInt() // includes trailing NUL
            if (len < 1) throw new GraftTypeError(s"invalid BSON string length $len")
            // UTF-8 bytes land in the vector verbatim — no String alloc
            v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), len - 1)
            buf.position(buf.position() + len)
          }
          def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
            case TCode if isCode => appendStr(buf, v)
            case (TString | TSymbol) if !isCode => appendStr(buf, v)
            case _ => fail(t, buf, v)
          }
        }

      case BooleanType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TBool => v.appendBoolean(buf.get() != 0)
          case _ => fail(t, buf, v)
        }
      }

      case TimestampType | TimestampNTZType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TDate => v.appendLong(Math.multiplyExact(buf.getLong(), 1000L))
          case _ => fail(t, buf, v)
        }
      }

      case DateType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TDate => // ms → days floor (reference Date32Builder)
            // int narrowing mirrors the tree path exactly: its appender's
            // fromJavaDate ends in toIntExact, so a day count beyond int
            // range raises a RAW ArithmeticException in both modes (a
            // silent .toInt would decode garbage). LocalDate.ofEpochDay
            // can never reject a long-ms day count (long ms caps at
            // ~1.07e11 days, inside LocalDate's ±3.65e11), so there is
            // no malformed branch on this cell.
            v.appendInt(Math.toIntExact(Math.floorDiv(buf.getLong(), 86400000L)))
          case _ => fail(t, buf, v)
        }
      }

      case d: DecimalType => new FieldWriter(field) {
        val strict0 = strict
        private def appendBig(bd: java.math.BigDecimal, v: WritableColumnVector): Unit =
          VectorAppend.unscaled(d,
            Decimal(bd.setScale(d.scale, java.math.RoundingMode.HALF_UP)), v)
        private def malformed(e: Throwable, v: WritableColumnVector): Unit = {
          if (strict0) throw new GraftTypeError(
            s"field '${field.name}': malformed value for " +
              s"${field.dataType.simpleString}: ${e.getMessage}")
          v.appendNull()
        }
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
          case TDec128 =>
            val low = buf.getLong(); val high = buf.getLong()
            val s = BsonBinary.decimal128ToString(high, low)
            try appendBig(new java.math.BigDecimal(s), v)
            catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
          case TInt32 => appendBig(java.math.BigDecimal.valueOf(buf.getInt().toLong), v)
          case TInt64 => appendBig(java.math.BigDecimal.valueOf(buf.getLong()), v)
          case TDouble =>
            val dd = buf.getDouble()
            // tree path: new BigDecimal(node.asText) = valueOf(double);
            // NaN/Inf have no BigDecimal → malformed rule
            if (dd.isNaN || dd.isInfinite)
              malformed(new NumberFormatException(String.valueOf(dd)), v)
            else appendBig(java.math.BigDecimal.valueOf(dd), v)
          case _ => fail(t, buf, v)
        }
      }

      case BinaryType =>
        val bt = bsonType
        val declaredSubtype =
          if (meta.contains(graft.schema.MSchema.BinarySubtypeKey))
            Some(meta.getLong(graft.schema.MSchema.BinarySubtypeKey)) else None
        new FieldWriter(field) {
          val strict0 = strict
          def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = (t, bt) match {
            case (TOid, "objectId") =>
              v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), 12)
              buf.position(buf.position() + 12)
            case (TDec128, "decimal128") => // raw-BID passthrough, verbatim bytes
              v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), 16)
              buf.position(buf.position() + 16)
            case (TBinary, b) if b != "objectId" && b != "decimal128" =>
              val len = buf.getInt()
              val actual = (buf.get() & 0xFF).toLong
              if (declaredSubtype.exists(_ != actual)) {
                // subtype mismatch is a type error (lib.pyx:792-799);
                // payload already positioned — skip it manually
                buf.position(buf.position() + len)
                if (strict0) throw new GraftTypeError(
                  s"field '${field.name}': got unexpected type binary " +
                    s"expecting ${field.dataType.simpleString}")
                writeNull(v)
              } else {
                v.appendByteArray(buf.array(), buf.arrayOffset() + buf.position(), len)
                buf.position(buf.position() + len)
              }
            case _ => fail(t, buf, v)
          }
        }

      case st: StructType =>
        val subWriters = st.fields.map(writerFor(_, strict))
        val subIdx: java.util.HashMap[String, Integer] = {
          val m = new java.util.HashMap[String, Integer]()
          st.fields.zipWithIndex.foreach { case (f, i) => m.put(f.name, i) }
          m
        }
        new FieldWriter(field) {
          val strict0 = strict
          private val seen = new Array[Boolean](subWriters.length)
          override def writeNull(v: WritableColumnVector): Unit = v.appendStruct(true)
          def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
            case TDoc =>
              val docLen = buf.getInt()
              val bodyEnd = buf.position() + docLen - 4
              // single-$-key wrapper = an ext-JSON scalar in tree form →
              // the tree path fails it as a type mismatch; mirror that
              val start = buf.position()
              val et = buf.get()
              val isWrapper = et != 0 && {
                val nm = cstring(buf)
                nm.startsWith("$") && { skipValue(et, buf); buf.get() == 0 }
              }
              buf.position(start)
              if (isWrapper) {
                buf.position(bodyEnd)
                if (strict0) throw new GraftTypeError(
                  s"field '${field.name}': got unexpected type " +
                    s"${typeName(TDoc)} expecting ${field.dataType.simpleString}")
                writeNull(v)
              } else {
                v.appendStruct(false)
                java.util.Arrays.fill(seen, false)
                var ct = buf.get()
                while (ct != 0) {
                  val nm = cstring(buf)
                  val j = subIdx.get(nm)
                  if (j != null && !seen(j)) {
                    subWriters(j).writeOrNull(ct, buf, v.getChild(j))
                    seen(j) = true
                  } else skipValue(ct, buf)
                  ct = buf.get()
                }
                var j = 0
                while (j < seen.length) {
                  if (!seen(j)) subWriters(j).writeNull(v.getChild(j))
                  j += 1
                }
              }
            case _ => fail(t, buf, v)
          }
        }

      case ArrayType(et, _) =>
        val elemWriter = writerFor(
          StructField(field.name, et, metadata = field.metadata), strict)
        new FieldWriter(field) {
          val strict0 = strict
          def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = t match {
            case TArray =>
              buf.getInt() // total length; we walk to the terminator
              val rowId = v.getElementsAppended
              val child = v.arrayData()
              val startOff = child.getElementsAppended
              var n = 0
              var ct = buf.get()
              while (ct != 0) {
                cstring(buf) // positional index key
                elemWriter.writeOrNull(ct, buf, child)
                n += 1
                ct = buf.get()
              }
              v.reserve(rowId + 1)
              v.putArray(rowId, startOff, n)
              v.addElementsAppended(1)
            case _ => fail(t, buf, v)
          }
        }

      case NullType => new FieldWriter(field) {
        val strict0 = strict
        def write(t: Byte, buf: ByteBuffer, v: WritableColumnVector): Unit = {
          skipValue(t, buf); v.appendNull() // NullType decodes null always
        }
      }

      case other => throw new GraftTypeError(s"unsupported declared type $other")
    }
  }

  /** Walk one top-level document body (after its int32 length; includes
    * the 0x00 terminator), appending one value per schema field. */
  def walkDocument(buf: ByteBuffer, writers: Array[FieldWriter],
                   fieldIdx: java.util.HashMap[String, Integer],
                   vectors: Array[_ <: WritableColumnVector],
                   seen: Array[Boolean]): Unit = {
    java.util.Arrays.fill(seen, false)
    var t = buf.get()
    while (t != 0) {
      val name = cstring(buf)
      val j = fieldIdx.get(name)
      if (j != null && !seen(j)) {
        writers(j).writeOrNull(t, buf, vectors(j))
        seen(j) = true
      } else skipValue(t, buf)
      t = buf.get()
    }
    var j = 0
    while (j < seen.length) {
      if (!seen(j)) writers(j).writeNull(vectors(j))
      j += 1
    }
  }
}
