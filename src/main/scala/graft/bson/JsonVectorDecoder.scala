package graft.bson

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** Direct extended-JSON→column-vector decode: Jackson STREAMING tokens
  * appended straight into `WritableColumnVector`s — no JsonNode tree per
  * document. The text-format twin of [[BsonVectorDecoder]] and of the
  * reference's single-pass builder walk over the wire stream
  * (lib.pyx:212-294): undeclared fields skip as token ranges
  * (`skipChildren`), declared fields coerce inline.
  *
  * SEMANTIC CONTRACT: every (declared type × JSON value shape) cell must
  * behave exactly like `DocDecoder.convert` on the tree node
  * `ObjectMapper.readTree` would have produced — the coercion matrix
  * (cross-accept, truncation, NaN→null, unconditional overflow raises),
  * the malformed-payload rule (strict raises / permissive nulls), ext-JSON
  * `$`-wrappers ($numberLong/$numberDouble/$date/$oid/$binary/
  * $numberDecimal/$code), missing-field null catch-up, nested recursion,
  * and the single-$-key wrapper rejection for struct targets. Pinned by
  * JsonVectorParitySpec (direct path vs tree path over the matrix).
  *
  * Wrapper sniffing needs one-field lookahead: on `{` the first field
  * name decides wrapper-vs-document. The first value is captured as a
  * lexeme (scalars) or a small subtree ($binary payloads); if the object
  * then turns out to be a real multi-key document whose $-named first
  * field IS a declared struct member (vanishingly rare), the captured
  * value replays through a fresh parser — same single coercion path.
  *
  * Duplicate field names keep the LAST value, exactly like the tree path
  * (ObjectNode.set overwrites): the duplicate decodes through the normal
  * writer — appending one slot past the row's value — and [[copyBackLast]]
  * copies it back over the first occurrence and drops the extra slot.
  * Duplicates are rare, so the hot path pays only the `seen` branch it
  * already had. (BsonVectorDecoder stays first-wins: BSON field names are
  * spec-unique, so no real stream hits the case.) Remaining documented
  * divergence: a >64-bit integer literal inside `$date` follows BigInteger
  * semantics via explicit BigInteger parse, as the tree does.
  */
private[graft] object JsonVectorDecoder {

  /** NaN/Infinity literals are legal BSON doubles (DocDecoder.newMapper
    * enables the same feature on the tree path). */
  val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    f
  }
  private val mapper = DocDecoder.newMapper()

  // ---- first-value capture for wrapper sniffing ---------------------------

  /** One captured JSON value: a scalar lexeme, or a parsed subtree for
    * containers (only wrapper payloads and the rare replay path hit the
    * tree form — never whole documents). */
  sealed trait PreVal
  final case class PScalar(tok: JsonToken, text: String, numType: NumberType) extends PreVal
  final case class PTree(node: JsonNode) extends PreVal

  /** Capture the value the parser is positioned ON (containers consume
    * through their END token, matching the write() contract). FLOAT
    * payloads capture the DOUBLE's canonical rendering, not the raw
    * lexeme: the tree path's DoubleNode.asText re-renders the parsed
    * double (`1e999` → "Infinity", `4e5` → "400000.0"), and wrapper
    * handlers ($numberDecimal's BigDecimal parse, $oid's hex parse)
    * dispatch on that text — the literal would diverge. */
  private def readPre(p: JsonParser): PreVal = p.currentToken() match {
    case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
      PTree(mapper.readTree[JsonNode](p))
    case t @ JsonToken.VALUE_NUMBER_INT =>
      // INT lexemes are already canonical (no exponent/point forms)
      PScalar(t, p.getText, p.getNumberType)
    case t @ JsonToken.VALUE_NUMBER_FLOAT =>
      PScalar(t, String.valueOf(p.getDoubleValue), p.getNumberType)
    case t => PScalar(t, p.getText, null)
  }

  /** `node.asText` semantics for a captured payload: numbers/bools render
    * their literal, null renders "null", containers render "". */
  private def preText(pre: PreVal): String = pre match {
    case PScalar(JsonToken.VALUE_NULL, _, _) => "null"
    case PScalar(_, text, _) => text
    case PTree(n) => if (n.isValueNode) n.asText else ""
  }

  private def preIsNumber(pre: PreVal): Boolean = pre match {
    case PScalar(_, _, nt) => nt != null
    case PTree(n) => n.isNumber
  }

  /** `node.asLong` semantics for a numeric payload (BigInteger truncates
    * to low bits, doubles cast with clamping — Jackson's asLong). */
  private def preAsLong(pre: PreVal): Long = pre match {
    case PScalar(_, text, nt) => nt match {
      case NumberType.INT | NumberType.LONG => text.toLong
      case NumberType.BIG_INTEGER => new java.math.BigInteger(text).longValue
      case _ => text.toDouble.toLong
    }
    case PTree(n) => n.asLong
  }

  /** Re-render a captured value as JSON for the single-path replay
    * (strings re-quote through Jackson for escaping; everything else's
    * lexeme IS valid JSON). */
  private def preJson(pre: PreVal): String = pre match {
    case PScalar(JsonToken.VALUE_STRING, text, _) =>
      com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .textNode(text).toString
    case PScalar(_, text, _) => text
    case PTree(n) => n.toString
  }

  // ---- object-shape resolution --------------------------------------------

  /** What a `{` turned out to be. For ODoc the parser sits ON the next
    * unprocessed FIELD_NAME (or END_OBJECT when exhausted/empty); `pre`
    * holds the first field when sniffing consumed its value. */
  sealed trait ObjShape
  final case class OWrap(key: String, payload: PreVal) extends ObjShape
  final case class ODoc(pre: Option[(String, PreVal)]) extends ObjShape

  /** Resolve an object the parser is positioned ON (`START_OBJECT`). */
  private def resolveObject(p: JsonParser): ObjShape = {
    var t = p.nextToken()
    if (t == JsonToken.END_OBJECT) return ODoc(None) // empty doc
    val name1 = p.currentName()
    if (!name1.startsWith("$")) return ODoc(None)    // parser ON first FIELD_NAME
    p.nextToken()
    val payload = readPre(p)
    t = p.nextToken()
    if (t == JsonToken.END_OBJECT) OWrap(name1, payload)
    else ODoc(Some((name1, payload)))                // parser ON second FIELD_NAME
  }

  /** Skip the remaining fields of an ODoc (parser ON FIELD_NAME or
    * END_OBJECT), leaving the parser ON the closing END_OBJECT. */
  private def skipDoc(p: JsonParser): Unit = {
    var t = p.currentToken()
    while (t == JsonToken.FIELD_NAME) {
      p.nextToken()
      p.skipChildren()
      t = p.nextToken()
    }
  }

  /** BSON type name of a known single-$-key wrapper, as bsonTypeName
    * renders the node (unknown $ keys read as plain documents). */
  private def wrapName(key: String): String = key match {
    case "$numberLong" => "int64"
    case "$numberDouble" => "double"
    case "$date" => "datetime"
    case "$oid" => "objectId"
    case "$binary" => "binary"
    case "$numberDecimal" => "decimal128"
    case "$code" => "code"
    case _ => "document"
  }

  /** bsonTypeName for the token under the parser (scalars/arrays). */
  private def tokName(p: JsonParser): String = p.currentToken() match {
    case JsonToken.VALUE_NULL => "null"
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => "bool"
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case NumberType.INT => "int32"
      case NumberType.LONG => "int64"
      case _ => "double" // BigIntegerNode: isNumber but neither int nor long
    }
    case JsonToken.VALUE_NUMBER_FLOAT => "double"
    case JsonToken.VALUE_STRING => "string"
    case JsonToken.START_ARRAY => "array"
    case _ => "unknown"
  }

  // ---- field writers -------------------------------------------------------

  /** Per-declared-field writer. `write` is called with the parser ON the
    * value's head token and must consume exactly the value (containers
    * end ON their closing token); the caller advances afterwards. */
  abstract class FieldWriter(val field: StructField) {
    protected val strict0: Boolean

    def write(p: JsonParser, v: WritableColumnVector): Unit

    def writeNull(v: WritableColumnVector): Unit = v.appendNull()

    /** Replay a captured value through a fresh parser — the rare path for
      * a $-named first field of a real document that IS a declared struct
      * member. One coercion implementation either way. */
    final def writePre(pre: PreVal, v: WritableColumnVector): Unit = {
      val p2 = factory.createParser(preJson(pre))
      try { p2.nextToken(); write(p2, v) } finally p2.close()
    }

    /** Type-mismatch rule: strict raises the tree path's message,
      * permissive appends null. The offending value must already be
      * consumed (scalars are by position; containers via skipChildren/
      * skipDoc at the call site). */
    protected final def fail(typeName: String, v: WritableColumnVector): Unit = {
      if (strict0) throw new GraftTypeError(
        s"field '${field.name}': got unexpected type $typeName " +
          s"expecting ${field.dataType.simpleString}")
      writeNull(v)
    }

    /** Malformed-payload rule (DocDecoder.convert's catch-all): strict
      * raises, permissive nulls. */
    protected final def malformed(e: Throwable, v: WritableColumnVector): Unit = {
      if (strict0) throw new GraftTypeError(
        s"field '${field.name}': malformed value for " +
          s"${field.dataType.simpleString}: ${e.getMessage}")
      writeNull(v)
    }

    protected final def overflow(what: Any): Nothing =
      throw new GraftTypeError(
        s"field '${field.name}': ${field.dataType.simpleString} overflow: $what")

    /** Consume + fail a non-null value that matches no accepted shape. */
    protected final def failValue(p: JsonParser, v: WritableColumnVector): Unit =
      p.currentToken() match {
        case JsonToken.START_OBJECT => resolveObject(p) match {
          case OWrap(key, _) => fail(wrapName(key), v)
          case ODoc(_) => skipDoc(p); fail("document", v)
        }
        case JsonToken.START_ARRAY => p.skipChildren(); fail("array", v)
        case _ => fail(tokName(p), v)
      }
  }

  def writerFor(field: StructField, strict: Boolean): FieldWriter = {
    val meta = field.metadata
    def bsonType: String =
      if (meta.contains(graft.schema.MSchema.BsonTypeKey))
        meta.getString(graft.schema.MSchema.BsonTypeKey) else ""

    field.dataType match {
      case IntegerType => new FieldWriter(field) {
        val strict0 = strict
        private def fromDouble(d: Double, v: WritableColumnVector): Unit =
          if (d.isNaN) writeNull(v)
          else if (d < Int.MinValue.toDouble || d > Int.MaxValue.toDouble) overflow(d)
          else v.appendInt(d.toInt) // truncate toward zero (lib.pyx:530-534)
        private def fromLong(l: Long, v: WritableColumnVector): Unit =
          if (l < Int.MinValue || l > Int.MaxValue) overflow(l)
          else v.appendInt(l.toInt)
        def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
          case JsonToken.VALUE_NULL => writeNull(v)
          case JsonToken.VALUE_TRUE => v.appendInt(1)
          case JsonToken.VALUE_FALSE => v.appendInt(0)
          case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
            case NumberType.BIG_INTEGER => fromLong(p.getBigIntegerValue.longValue, v)
            case _ => fromLong(p.getLongValue, v)
          }
          case JsonToken.VALUE_NUMBER_FLOAT => fromDouble(p.getDoubleValue, v)
          case JsonToken.START_OBJECT => resolveObject(p) match {
            case OWrap("$numberLong", pre) =>
              try fromLong(preText(pre).toLong, v)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap("$numberDouble", pre) =>
              try fromDouble(java.lang.Double.parseDouble(preText(pre)), v)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap(key, _) => fail(wrapName(key), v)
            case ODoc(_) => skipDoc(p); fail("document", v)
          }
          case _ => failValue(p, v)
        }
      }

      case LongType => new FieldWriter(field) {
        val strict0 = strict
        private def fromDouble(d: Double, v: WritableColumnVector): Unit =
          if (d.isNaN) writeNull(v)
          else if (d < -9.223372036854776e18 || d >= 9.223372036854776e18) overflow(d)
          else v.appendLong(d.toLong)
        def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
          case JsonToken.VALUE_NULL => writeNull(v)
          case JsonToken.VALUE_TRUE => v.appendLong(1L)
          case JsonToken.VALUE_FALSE => v.appendLong(0L)
          case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
            // node.asLong on a BigIntegerNode keeps the low 64 bits
            case NumberType.BIG_INTEGER => v.appendLong(p.getBigIntegerValue.longValue)
            case _ => v.appendLong(p.getLongValue)
          }
          case JsonToken.VALUE_NUMBER_FLOAT => fromDouble(p.getDoubleValue, v)
          case JsonToken.START_OBJECT => resolveObject(p) match {
            case OWrap("$numberLong", pre) =>
              try v.appendLong(preText(pre).toLong)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap("$numberDouble", pre) =>
              try fromDouble(java.lang.Double.parseDouble(preText(pre)), v)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap(key, _) => fail(wrapName(key), v)
            case ODoc(_) => skipDoc(p); fail("document", v)
          }
          case _ => failValue(p, v)
        }
      }

      case DoubleType => new FieldWriter(field) {
        val strict0 = strict
        private def put(d: Double, v: WritableColumnVector): Unit =
          if (d.isNaN) writeNull(v) else v.appendDouble(d)
        def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
          case JsonToken.VALUE_NULL => writeNull(v)
          case JsonToken.VALUE_TRUE => v.appendDouble(1.0)
          case JsonToken.VALUE_FALSE => v.appendDouble(0.0)
          case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
            put(p.getDoubleValue, v)
          case JsonToken.START_OBJECT => resolveObject(p) match {
            case OWrap("$numberLong", pre) =>
              try v.appendDouble(preText(pre).toLong.toDouble)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap("$numberDouble", pre) =>
              try put(java.lang.Double.parseDouble(preText(pre)), v)
              catch { case e: NumberFormatException => malformed(e, v) }
            case OWrap(key, _) => fail(wrapName(key), v)
            case ODoc(_) => skipDoc(p); fail("document", v)
          }
          case _ => failValue(p, v)
        }
      }

      case StringType =>
        val isCode = bsonType == "code"
        new FieldWriter(field) {
          val strict0 = strict
          def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
            case JsonToken.VALUE_NULL => writeNull(v)
            case JsonToken.VALUE_STRING if !isCode =>
              val b = p.getText.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              v.appendByteArray(b, 0, b.length)
            case JsonToken.START_OBJECT => resolveObject(p) match {
              case OWrap("$code", pre) if isCode =>
                val b = preText(pre).getBytes(java.nio.charset.StandardCharsets.UTF_8)
                v.appendByteArray(b, 0, b.length)
              case OWrap(key, _) => fail(wrapName(key), v)
              case ODoc(_) => skipDoc(p); fail("document", v)
            }
            case _ => failValue(p, v)
          }
        }

      case BooleanType => new FieldWriter(field) {
        val strict0 = strict
        def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
          case JsonToken.VALUE_NULL => writeNull(v)
          case JsonToken.VALUE_TRUE => v.appendBoolean(true)
          case JsonToken.VALUE_FALSE => v.appendBoolean(false)
          case _ => failValue(p, v)
        }
      }

      case TimestampType | TimestampNTZType | DateType =>
        val dt = field.dataType
        new FieldWriter(field) {
          val strict0 = strict
          def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
            case JsonToken.VALUE_NULL => writeNull(v)
            case JsonToken.START_OBJECT => resolveObject(p) match {
              case OWrap("$date", pre) =>
                // parse under the malformed rule; the epoch conversion
                // itself stays OUTSIDE it (the tree path's appender
                // overflow surfaces raw, not as GraftTypeError).
                // TimestampType keeps an ISO string's SUB-MILLISECOND
                // precision (the tree path goes Timestamp.from(Instant)
                // → fromJavaTimestamp, micros intact); NTZ/date32
                // truncate to ms first, as the tree does.
                if (dt == TimestampType && !preIsNumber(pre)) {
                  var ts: java.sql.Timestamp = null
                  try ts = java.sql.Timestamp.from(
                    java.time.Instant.parse(preText(pre)))
                  catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
                  if (ts != null)
                    v.appendLong(DateTimeUtils.fromJavaTimestamp(ts))
                  return
                }
                var ms = 0L
                var ok = false
                try {
                  ms = if (preIsNumber(pre)) preAsLong(pre)
                       else java.time.Instant.parse(preText(pre)).toEpochMilli
                  ok = true
                } catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
                if (ok) dt match {
                  case DateType =>
                    // toIntExact mirrors the tree appender's fromJavaDate
                    // narrowing: beyond-int day counts raise a RAW
                    // ArithmeticException in both modes (a silent .toInt
                    // would decode garbage); LocalDate can never reject a
                    // long-ms day count, so no malformed branch exists
                    v.appendInt(Math.toIntExact(Math.floorDiv(ms, 86400000L)))
                  case _ =>
                    v.appendLong(DateTimeUtils.millisToMicros(ms))
                }
              case OWrap(key, _) => fail(wrapName(key), v)
              case ODoc(_) => skipDoc(p); fail("document", v)
            }
            case _ => failValue(p, v)
          }
        }

      case d: DecimalType => new FieldWriter(field) {
        val strict0 = strict
        private def appendBig(bd: java.math.BigDecimal, v: WritableColumnVector): Unit =
          VectorAppend.unscaled(d, Decimal(bd), v)
        private def parseScaled(text: String, v: WritableColumnVector): Unit = {
          var bd: java.math.BigDecimal = null
          try bd = new java.math.BigDecimal(text)
            .setScale(d.scale, java.math.RoundingMode.HALF_UP)
          catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
          if (bd != null) appendBig(bd, v) // Decimal() overflow surfaces raw
        }
        /** node.asText of a bare number: literal for integrals, the
          * double's canonical rendering for FLOAT tokens (DoubleNode). */
        def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
          case JsonToken.VALUE_NULL => writeNull(v)
          case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
            case NumberType.BIG_INTEGER => parseScaled(p.getBigIntegerValue.toString, v)
            case _ => parseScaled(String.valueOf(p.getLongValue), v)
          }
          case JsonToken.VALUE_NUMBER_FLOAT =>
            parseScaled(String.valueOf(p.getDoubleValue), v)
          case JsonToken.START_OBJECT => resolveObject(p) match {
            case OWrap("$numberDecimal", pre) => parseScaled(preText(pre), v)
            case OWrap(key, _) => fail(wrapName(key), v)
            case ODoc(_) => skipDoc(p); fail("document", v)
          }
          case _ => failValue(p, v)
        }
      }

      case BinaryType =>
        val bt = bsonType
        val declaredSubtype =
          if (meta.contains(graft.schema.MSchema.BinarySubtypeKey))
            Some(meta.getLong(graft.schema.MSchema.BinarySubtypeKey)) else None
        new FieldWriter(field) {
          val strict0 = strict
          private def putBytes(b: Array[Byte], v: WritableColumnVector): Unit =
            v.appendByteArray(b, 0, b.length)
          // the tree path's own hex parser: one definition of oid-hex
          private def hexBytes(hex: String): Array[Byte] =
            DocDecoder.hexBytes(hex)
          def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
            case JsonToken.VALUE_NULL => writeNull(v)
            case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT
                if bt == "decimal128" =>
              // bare-number → raw-BID passthrough (asText-mirrored text)
              val text = p.currentToken() match {
                case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
                  case NumberType.BIG_INTEGER => p.getBigIntegerValue.toString
                  case _ => String.valueOf(p.getLongValue)
                }
                case _ => String.valueOf(p.getDoubleValue)
              }
              try putBytes(BsonBinary.decimal128Bid(text), v)
              catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
            case JsonToken.START_OBJECT => resolveObject(p) match {
              case OWrap("$numberDecimal", pre) if bt == "decimal128" =>
                try putBytes(BsonBinary.decimal128Bid(preText(pre)), v)
                catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
              case OWrap("$oid", pre) if bt == "objectId" =>
                try putBytes(hexBytes(preText(pre)), v)
                catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
              case OWrap("$binary", pre) if bt != "objectId" && bt != "decimal128" =>
                pre match {
                  case PTree(b) if b.isObject =>
                    var bytes: Array[Byte] = null
                    var mismatch = false
                    try {
                      val actual = java.lang.Long.parseLong(b.get("subType").asText, 16)
                      if (declaredSubtype.exists(_ != actual)) mismatch = true
                      else bytes = java.util.Base64.getDecoder.decode(b.get("base64").asText)
                    } catch { case scala.util.control.NonFatal(e) => malformed(e, v) }
                    if (mismatch) fail("binary", v)
                    else if (bytes != null) putBytes(bytes, v)
                  case _ => // scalar payload: tree's b.get("subType") NPEs
                    malformed(new NullPointerException(
                      "binary payload is not a document"), v)
                }
              case OWrap(key, _) => fail(wrapName(key), v)
              case ODoc(_) => skipDoc(p); fail("document", v)
            }
            case _ => failValue(p, v)
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
          def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
            case JsonToken.VALUE_NULL => writeNull(v)
            case JsonToken.START_OBJECT => resolveObject(p) match {
              // single-$-key wrapper = an ext-JSON scalar → type mismatch
              case OWrap(key, _) => fail(wrapName(key), v)
              case ODoc(pre) =>
                v.appendStruct(false)
                java.util.Arrays.fill(seen, false)
                pre.foreach { case (nm, preVal) =>
                  val j = subIdx.get(nm)
                  if (j != null && !seen(j)) {
                    subWriters(j).writePre(preVal, v.getChild(j))
                    seen(j) = true
                  }
                }
                var t = p.currentToken()
                while (t == JsonToken.FIELD_NAME) {
                  val nm = p.currentName()
                  p.nextToken()
                  val j = subIdx.get(nm)
                  if (j != null) {
                    subWriters(j).write(p, v.getChild(j))
                    if (seen(j))
                      copyBackLast(v.getChild(j), subWriters(j).field.dataType)
                    else seen(j) = true
                  } else p.skipChildren()
                  t = p.nextToken()
                }
                var j = 0
                while (j < seen.length) {
                  if (!seen(j)) subWriters(j).writeNull(v.getChild(j))
                  j += 1
                }
            }
            case JsonToken.START_ARRAY => p.skipChildren(); fail("array", v)
            case _ => failValue(p, v)
          }
        }

      case ArrayType(et, _) =>
        val elemWriter = writerFor(
          StructField(field.name, et, metadata = field.metadata), strict)
        new FieldWriter(field) {
          val strict0 = strict
          def write(p: JsonParser, v: WritableColumnVector): Unit = p.currentToken() match {
            case JsonToken.VALUE_NULL => writeNull(v)
            case JsonToken.START_ARRAY =>
              val rowId = v.getElementsAppended
              val child = v.arrayData()
              val startOff = child.getElementsAppended
              var n = 0
              var t = p.nextToken()
              while (t != JsonToken.END_ARRAY) {
                elemWriter.write(p, child)
                n += 1
                t = p.nextToken()
              }
              v.reserve(rowId + 1)
              v.putArray(rowId, startOff, n)
              v.addElementsAppended(1)
            case _ => failValue(p, v)
          }
        }

      case NullType => new FieldWriter(field) {
        val strict0 = strict
        def write(p: JsonParser, v: WritableColumnVector): Unit = {
          p.skipChildren() // containers consume; scalars are no-ops
          v.appendNull()   // NullType decodes null always
        }
      }

      case other => throw new GraftTypeError(s"unsupported declared type $other")
    }
  }

  // ---- duplicate-key last-wins ---------------------------------------------

  /** After a duplicate declared field decoded through its writer (landing
    * at slot n-1, one past the row's first occurrence at n-2), copy the
    * new element back over the old one and release the extra slot. Copies
    * are pointer-level for variable-width data (`putArray` re-targets the
    * row at the duplicate's bytes; the orphaned first-occurrence bytes in
    * the child buffer are unreachable, same as any overwritten slot). */
  private[bson] def copyBackLast(v: WritableColumnVector, dt: DataType): Unit = {
    val n = v.getElementsAppended
    copyElement(v, dt, n - 1, n - 2)
    shrink(v, dt)
  }

  private def copyElement(v: WritableColumnVector, dt: DataType,
                          from: Int, to: Int): Unit = {
    if (v.isNullAt(from)) { v.putNull(to); return }
    v.putNotNull(to)
    dt match {
      case BooleanType => v.putBoolean(to, v.getBoolean(from))
      case IntegerType | DateType => v.putInt(to, v.getInt(from))
      case LongType | TimestampType | TimestampNTZType =>
        v.putLong(to, v.getLong(from))
      case DoubleType => v.putDouble(to, v.getDouble(from))
      case d: DecimalType => // mirrors VectorAppend.unscaled's layout
        if (d.precision <= Decimal.MAX_INT_DIGITS) v.putInt(to, v.getInt(from))
        else if (d.precision <= Decimal.MAX_LONG_DIGITS) v.putLong(to, v.getLong(from))
        else v.putArray(to, v.getArrayOffset(from), v.getArrayLength(from))
      case StringType | BinaryType | ArrayType(_, _) =>
        v.putArray(to, v.getArrayOffset(from), v.getArrayLength(from))
      case st: StructType =>
        st.fields.zipWithIndex.foreach { case (f, i) =>
          copyElement(v.getChild(i), f.dataType, from, to)
        }
      case NullType => () // NullType rows are always null; unreachable here
      case other => throw new GraftTypeError(s"unsupported declared type $other")
    }
  }

  /** Drop the last appended element. Struct children each carry one
    * element per parent row (appendStruct(true) null-fills them), so the
    * decrement recurses; array/string child buffers keep their bytes —
    * only the row slot is released. */
  private def shrink(v: WritableColumnVector, dt: DataType): Unit = {
    v.addElementsAppended(-1)
    dt match {
      case st: StructType =>
        st.fields.zipWithIndex.foreach { case (f, i) =>
          shrink(v.getChild(i), f.dataType)
        }
      case _ => ()
    }
  }

  /** Walk one document line: parser freshly created over the line bytes.
    * A non-object root decodes as an all-null row (the tree path's
    * `node.get(name)` returns null for every field). */
  def walkDocument(p: JsonParser, writers: Array[FieldWriter],
                   fieldIdx: java.util.HashMap[String, Integer],
                   vectors: Array[_ <: WritableColumnVector],
                   seen: Array[Boolean]): Unit = {
    java.util.Arrays.fill(seen, false)
    val t0 = p.nextToken()
    if (t0 == JsonToken.START_OBJECT) {
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        val j = fieldIdx.get(name)
        if (j != null) {
          writers(j).write(p, vectors(j))
          if (seen(j)) copyBackLast(vectors(j), writers(j).field.dataType)
          else seen(j) = true
        } else p.skipChildren()
        t = p.nextToken()
      }
    }
    var j = 0
    while (j < seen.length) {
      if (!seen(j)) writers(j).writeNull(vectors(j))
      j += 1
    }
  }
}
