package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The write path — Spark twin of the reference's
  * `write(collection, tabular)` (bindings/python/pymongoarrow/
  * api.py:602-713): typed rows → extended-JSON documents → batched
  * appends with the reference's byte/count limits, returning an
  * inserted-count result and reference-shaped error provenance.
  *
  * Execution shape: each partition runs one DataWriter (the reference's
  * single client loop becomes N parallel writers); batches flush at
  * 48 MB − 16 KiB bytes or 100 000 docs (api.py:91-95,685-697). The
  * sink target is a directory of JSON-lines batch files — swap
  * `flushBatch` for a real insert_many and the batching/commit logic is
  * unchanged.
  */
object DocWriter {
  /** api.py:91-95: _MAX_MESSAGE_SIZE = 48MB - 16KiB, _MAX_WRITE_BATCH_SIZE ≥ 100k. */
  val MaxBatchBytes: Long = 48L * 1000 * 1000 - 16 * 1024
  val MaxBatchDocs: Int = 100000

  final case class WriteResult(insertedCount: Long, batches: Long)

  /** Raised with the reference's error shape: how many rows were already
    * written plus the failing global row index (errors.py:24-47,
    * _transform_bwe api.py:542-550). */
  final class GraftWriteError(msg: String, val nInserted: Long, val index: Long)
    extends RuntimeException(s"$msg (nInserted=$nInserted, index=$index)")

  /** Auto-convert pre-pass (api.py:622-648): dates → ms timestamps,
    * narrow ints → int32, float32 → float64. */
  /** Recursive widening twin of the pre-pass (api.py:622-648): date→ts,
    * narrow ints→int32, float32→f64 — at any nesting depth, since BSON
    * has no narrow twins inside documents/arrays either. */
  private def widen(dt: DataType): DataType = dt match {
    case DateType => TimestampType
    case ByteType | ShortType => IntegerType
    case FloatType => DoubleType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = widen(f.dataType))))
    case ArrayType(et, n) => ArrayType(widen(et), n)
    case other => other
  }

  def autoConvert(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val w = widen(f.dataType)
      if (w == f.dataType) col(f.name) else col(f.name).cast(w).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Schema validation (types.py:345-358): reject types with no BSON twin. */
  def validateSchema(schema: StructType): Unit = {
    def check(dt: DataType, path: String): Unit = dt match {
      case _: MapType => throw new IllegalArgumentException(
        s"field '$path': MapType has no BSON document twin (enumerate fields)")
      case CalendarIntervalType => throw new IllegalArgumentException(
        s"field '$path': interval type is unsupported")
      case s: StructType => s.fields.foreach(f => check(f.dataType, s"$path.${f.name}"))
      case ArrayType(et, _) => check(et, s"$path[]")
      case _ => ()
    }
    schema.fields.foreach(f => check(f.dataType, f.name))
  }

  /** One value → extended-JSON fragment (reverse of DocDecoder).
    * `meta` is the enclosing field's metadata (array elements inherit
    * it, as in BsonBinary); it carries the Binary subtype tag. */
  private def jsonValue(v: Any, dt: DataType, meta: Metadata,
                        sb: java.lang.StringBuilder): Unit = (v, dt) match {
    case (null, _) => sb.append("null")
    case (x: Int, _) => sb.append(x)
    case (x: Long, _) => sb.append("{\"$numberLong\": \"").append(x).append("\"}")
    case (x: Double, _) =>
      if (x.isNaN || x.isInfinite) sb.append("{\"$numberDouble\": \"").append(x).append("\"}")
      else sb.append(x)
    case (x: Boolean, _) => sb.append(x)
    // narrow numerics may survive autoConvert inside structs/arrays;
    // encode them as their widened BSON twins (api.py:622-648 semantics)
    case (x: Float, _) =>
      val d = x.toDouble
      if (d.isNaN || d.isInfinite) sb.append("{\"$numberDouble\": \"").append(d).append("\"}")
      else sb.append(d)
    case (x: Short, _) => sb.append(x.toInt)
    case (x: Byte, _) => sb.append(x.toInt)
    case (x: String, _) => appendEscaped(x, sb)
    case (x: java.sql.Timestamp, _) =>
      sb.append("{\"$date\": ").append(x.getTime).append("}")
    case (x: java.time.LocalDateTime, _) => // TimestampNTZ: treat as UTC ms
      sb.append("{\"$date\": ")
        .append(x.toInstant(java.time.ZoneOffset.UTC).toEpochMilli).append("}")
    case (x: java.time.Instant, _) =>
      sb.append("{\"$date\": ").append(x.toEpochMilli).append("}")
    case (x: java.sql.Date, _) => // UTC midnight, matching DocDecoder's
      // UTC epoch-day floor — getTime would be JVM-local midnight
      sb.append("{\"$date\": ")
        .append(x.toLocalDate.toEpochDay * 86400000L).append("}")
    case (x: java.math.BigDecimal, _) =>
      sb.append("{\"$numberDecimal\": \"").append(x.toPlainString).append("\"}")
    case (x: Array[Byte], _) =>
      sb.append("{\"$binary\": {\"base64\": \"")
        .append(java.util.Base64.getEncoder.encodeToString(x))
        .append("\", \"subType\": \"")
        .append(f"${graft.schema.MSchema.binarySubtype(meta)}%02x").append("\"}}")
    case (x: Row, st: StructType) => encodeRow(x, st, sb)
    case (x: scala.collection.Seq[_], ArrayType(et, _)) =>
      sb.append('[')
      var first = true
      x.foreach { e =>
        if (!first) sb.append(", "); first = false
        jsonValue(e, et, meta, sb)
      }
      sb.append(']')
    case (other, t) => throw new IllegalArgumentException(
      s"cannot encode $other of declared type $t")
  }

  private def appendEscaped(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** One row → one extended-JSON document line (no trailing newline);
    * shared with the DSv2 write path. */
  private[graft] def encodeJsonLine(r: Row, st: StructType): String = {
    val sb = new java.lang.StringBuilder()
    encodeRow(r, st, sb)
    sb.toString
  }

  private def encodeRow(r: Row, st: StructType, sb: java.lang.StringBuilder,
                        excludeNone: Boolean = false): Unit = {
    sb.append('{')
    var first = true
    st.fields.zipWithIndex.foreach { case (f, i) =>
      // exclude_none (api.py:553-558): null TOP-LEVEL fields are
      // omitted from the document, not written as nulls — the
      // reference filters the row dict, so nested nulls stay
      if (!(excludeNone && r.isNullAt(i))) {
        if (!first) sb.append(", "); first = false
        appendEscaped(f.name, sb)
        sb.append(": ")
        jsonValue(if (r.isNullAt(i)) null else r.get(i), f.dataType,
          f.metadata, sb)
      }
    }
    sb.append('}')
  }

  /** Write df as batched JSON-document files under `path`. One file per
    * flushed batch (`part-<partition>-<batch>.jsonl`). */
  def write(dfRaw: DataFrame, path: String,
            maxBatchBytes: Long = MaxBatchBytes,
            maxBatchDocs: Int = MaxBatchDocs,
            autoConvertTypes: Boolean = true,
            excludeNone: Boolean = false): WriteResult = {
    // autoConvertTypes/excludeNone mirror the reference's
    // auto_convert/exclude_none kwargs (api.py:602-610)
    val df = if (autoConvertTypes) autoConvert(dfRaw) else dfRaw
    validateSchema(df.schema)
    val schema = df.schema
    val spark = df.sparkSession
    // Hadoop FileSystem, not java.io: the sink target may be hdfs:// or
    // an object store — batches do not live on local disk at scale
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val targetDir = new org.apache.hadoop.fs.Path(path)
    DocStore.storeFs(targetDir, hconf.value).mkdirs(targetDir)
    val inserted: LongAccumulator = spark.sparkContext.longAccumulator("graft.inserted")
    val batches: LongAccumulator = spark.sparkContext.longAccumulator("graft.batches")
    df.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // raw local fs for file: sinks — no .crc sidecar per batch file
      val fs = DocStore.storeFs(
        new org.apache.hadoop.fs.Path(path), hconf.value)
      var batchIdx = 0
      var written = 0L
      var buf = new java.lang.StringBuilder()
      var bufBytes = 0L // budget is wire BYTES (utf8), not UTF-16 chars
      var docsInBatch = 0
      def flush(): Unit = if (docsInBatch > 0) {
        val f = new org.apache.hadoop.fs.Path(path, f"part-$pid%05d-$batchIdx%05d.jsonl")
        try {
          val out = fs.create(f, true)
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            out, java.nio.charset.StandardCharsets.UTF_8))
          try w.write(buf.toString) finally w.close()
        } catch {
          case e: java.io.IOException =>
            // reference-shaped provenance: rows already inserted + global index
            throw new GraftWriteError(e.getMessage, written, written)
        }
        inserted.add(docsInBatch); batches.add(1)
        written += docsInBatch
        batchIdx += 1; docsInBatch = 0
        buf = new java.lang.StringBuilder(); bufBytes = 0L
      }
      def utf8Len(s: CharSequence): Long = { // no intermediate byte[]
        var i = 0; var bytes = 0L
        while (i < s.length) {
          val c = s.charAt(i)
          bytes += (if (c < 0x80) 1 else if (c < 0x800) 2
                    else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
          i += 1
        }
        bytes
      }
      it.foreach { row =>
        val sb = new java.lang.StringBuilder()
        encodeRow(row, schema, sb, excludeNone)
        sb.append('\n')
        val docBytes = utf8Len(sb)
        if (docsInBatch > 0 &&
            (bufBytes + docBytes > maxBatchBytes || docsInBatch >= maxBatchDocs))
          flush()
        buf.append(sb)
        bufBytes += docBytes
        docsInBatch += 1
      }
      flush()
    }
    WriteResult(inserted.value, batches.value)
  }
}
