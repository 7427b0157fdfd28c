package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowReader, ArrowStreamReader, ArrowStreamWriter, ArrowWriter}
import org.apache.arrow.vector.ipc.SeekableReadChannel
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch, ColumnVector}
import org.apache.spark.util.SerializableConfiguration

/** `graftarrow`: Arrow IPC FILE format (the `ARROW1`-magic random-access
  * form) as a first-class DSv2 batch source/sink — the engine's answer
  * to the reference's identity (BSON → Arrow batches is mongo-arrow's
  * whole product, P/api.py:80-175): any query result materializes as
  * standard Arrow files that pyarrow / polars / pandas / DuckDB / a
  * training-data loader memory-map directly, and Arrow files written by
  * those tools read back as a DataFrame.
  *
  * Scale shape:
  *  - READ is zero-copy columnar: each task opens its file, loads record
  *    batches into arrow memory, and hands Spark `ColumnarBatch`es of
  *    [[ArrowColumnVector]]s — no per-row materialization, vectors feed
  *    whole-stage codegen's columnar scan path. Column pruning selects
  *    vectors by name; unprojected columns are never copied (IPC batches
  *    are read whole from disk — the format has no column offsets — but
  *    conversion cost is pruned).
  *  - WRITE streams fixed-size record batches (default 4096 rows) per
  *    task into ONE staged hidden file, renamed visible at job commit —
  *    the hidden-rename protocol graftdocs shares ([[StagedCommit]]; task
  *    abort deletes its own staging; truncate deletes old data only after
  *    the new commits).
  *
  * Type surface (refusals are loud): boolean, byte/short/int/long,
  * float/double, decimal(p,s), string, binary, date, timestamp (UTC
  * micros), and ARBITRARILY NESTED array/struct of those — the
  * reference's product is a nested Arrow table (DocumentBuilder →
  * StructArray, P/lib.pyx:813-839; nested matrices
  * T/test_arrow.py:376-504), so documents-shaped data round-trips
  * without flattening — including map columns (Arrow Map =
  * list<struct<key, value>>). */
class GraftArrowSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftarrow"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftArrowSource.pathOf(options)
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val files = GraftArrowSource.listArrowFiles(path, conf)
    if (files.isEmpty) throw new IllegalArgumentException(
      s"graftarrow: no .arrow files under $path")
    val head = new Path(files.head)
    val fs = head.getFileSystem(conf)
    val in = fs.open(head)
    val alloc = new RootAllocator()
    try {
      val reader = GraftArrowSource.openReader(fs, head, in, alloc)
      try GraftArrowSource.toSparkSchema(reader)
      finally reader.close()
    } finally { in.close(); alloc.close() }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftArrowTable(schema, properties.asScala.toMap)
}

private[sources] object GraftArrowSource {
  def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graftarrow: path is required"))

  def listArrowFiles(path: String,
                     conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    listArrowRefs(path, conf).map(_._1)

  /** (path, byteLength) per visible .arrow file — the length doubles as
    * the zone-map sidecar integrity check. */
  def listArrowRefs(path: String,
                    conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val f = st.getPath
      val n = f.getName
      if ((n.endsWith(".arrow") || n.endsWith(".arrows")) &&
          !n.startsWith(".") && !n.startsWith("_"))
        out += ((f.toString, st.getLen))
    }
    out.toSeq.sortBy(_._1)
  }

  /** Open an IPC reader for `path` by extension: `.arrow` (random-
    * access FILE format, footer-seeking) or `.arrows` (STREAM format —
    * schema-first message sequence, forward-only; what pipes/sockets
    * and pyarrow's open_stream produce). Both expose the same
    * ArrowReader loop. */
  def openReader(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                 in: FSDataInputStream,
                 alloc: RootAllocator): ArrowReader =
    // CommonsCompressionFactory: record batches with LZ4_FRAME/ZSTD
    // body compression (pyarrow writes both routinely) inflate
    // transparently; uncompressed bodies pass through untouched
    if (p.getName.endsWith(".arrows"))
      new ArrowStreamReader(in, alloc,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    else new ArrowFileReader(
      new SeekableReadChannel(new HadoopSeekableChannel(
        in, fs.getFileStatus(p).getLen)), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)

  /** Hadoop stream as a read-only SeekableByteChannel (what
    * ArrowFileReader needs for footer-seeking random access). */
  final class HadoopSeekableChannel(in: FSDataInputStream, len: Long)
    extends java.nio.channels.SeekableByteChannel {
    private var pos = 0L
    private var open = true
    override def read(dst: java.nio.ByteBuffer): Int = {
      val want = dst.remaining()
      if (want == 0) return 0
      if (pos >= len) return -1
      val buf = new Array[Byte](math.min(want.toLong, len - pos).toInt)
      in.seek(pos)
      in.readFully(buf, 0, buf.length)
      dst.put(buf, 0, buf.length)
      pos += buf.length
      buf.length
    }
    override def position(): Long = pos
    override def position(newPosition: Long): java.nio.channels.SeekableByteChannel = {
      pos = newPosition; this
    }
    override def size(): Long = len
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false }
    override def write(src: java.nio.ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def truncate(size: Long): java.nio.channels.SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
  }

  // ---- schema mapping (both directions, shared refusal text) -----------

  private def unsupported(what: String): Nothing =
    throw new IllegalArgumentException(
      s"graftarrow: unsupported type $what (supported: boolean, " +
        "byte/short/int/long, float/double, decimal, string, binary, " +
        "date, timestamp, timestamp_ntz, and arbitrarily nested " +
        "array/struct/map of those)")

  def toArrowField(name: String, dt: DataType, nullable: Boolean): Field = {
    def prim(t: ArrowType): Field =
      new Field(name, new FieldType(nullable, t, null), null)
    dt match {
      case BooleanType => prim(ArrowType.Bool.INSTANCE)
      case ByteType => prim(new ArrowType.Int(8, true))
      case ShortType => prim(new ArrowType.Int(16, true))
      case IntegerType => prim(new ArrowType.Int(32, true))
      case LongType => prim(new ArrowType.Int(64, true))
      case FloatType =>
        prim(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType =>
        prim(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case d: DecimalType =>
        prim(new ArrowType.Decimal(d.precision, d.scale, 128))
      case StringType => prim(ArrowType.Utf8.INSTANCE)
      case BinaryType => prim(ArrowType.Binary.INSTANCE)
      case DateType => prim(new ArrowType.Date(DateUnit.DAY))
      case TimestampType =>
        prim(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType =>
        prim(new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      case ArrayType(el, elNullable) =>
        // fully recursive: array<struct>, array<array>, array<decimal>
        // — the reference's defining artifact is a NESTED Arrow table
        // (P/lib.pyx:813-839, T/test_arrow.py:376-504)
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null),
          java.util.List.of(toArrowField("element", el, elNullable)))
      case st: StructType =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null),
          st.fields.map(f =>
            toArrowField(f.name, f.dataType, f.nullable)).toSeq.asJava)
      case MapType(kt, vt, valueNullable) =>
        // Arrow Map = list<struct<key (non-null), value>> with the map
        // flag; keysSorted=false (Spark maps carry no order contract)
        val entries = new Field(org.apache.arrow.vector.complex.MapVector.DATA_VECTOR_NAME,
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          java.util.List.of(
            toArrowField(org.apache.arrow.vector.complex.MapVector.KEY_NAME,
              kt, nullable = false),
            toArrowField(org.apache.arrow.vector.complex.MapVector.VALUE_NAME,
              vt, valueNullable)))
        new Field(name, new FieldType(nullable, new ArrowType.Map(false), null),
          java.util.List.of(entries))
      case other => unsupported(other.sql)
    }
  }

  def toArrowSchema(schema: StructType): Schema =
    new Schema(schema.fields.map(f =>
      toArrowField(f.name, f.dataType, f.nullable)).toSeq.asJava)

  def toSparkType(f: Field): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case i: ArrowType.Int if i.getIsSigned => i.getBitWidth match {
      case 8 => ByteType
      case 16 => ShortType
      case 32 => IntegerType
      case 64 => LongType
      case w => unsupported(s"int($w)")
    }
    case fp: ArrowType.FloatingPoint => fp.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => unsupported(s"float($p)")
    }
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case d: ArrowType.Date if d.getUnit == DateUnit.DAY => DateType
    case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND =>
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case _: ArrowType.List =>
      val el = f.getChildren.get(0)
      ArrayType(toSparkType(el), el.isNullable)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.map(c =>
        StructField(c.getName, toSparkType(c), c.isNullable)).toSeq)
    case _: ArrowType.Map =>
      val entries = f.getChildren.get(0)
      val kf = entries.getChildren.get(0)
      val vf = entries.getChildren.get(1)
      MapType(toSparkType(kf), toSparkType(vf), vf.isNullable)
    case other => unsupported(other.toString)
  }

  def toSparkSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.map(f =>
      StructField(f.getName, toSparkType(f), f.isNullable)).toSeq)

  /** Reader-aware schema: dictionary-encoded columns — top-level OR
    * nested inside struct/list (pyarrow writes both) — report their
    * VALUE type; the read path decodes top-level vectors wholesale and
    * nested ones through per-child decode + composite wrappers
    * ([[DictAwareVectors]]). */
  def toSparkSchema(reader: ArrowReader): StructType = {
    val dicts = reader.getDictionaryVectors
    StructType(reader.getVectorSchemaRoot.getSchema.getFields.asScala.map {
      f =>
        val vf = resolveDictField(f, dicts)
        StructField(f.getName, toSparkType(vf), f.isNullable)
    }.toSeq)
  }

  /** Recursively replace every dictionary-encoded field (at any depth)
    * with its dictionary's VALUE field, keeping the outer field's name
    * and nullability — the schema the decoded read path serves. */
  def resolveDictField(f: Field,
                       dicts: java.util.Map[java.lang.Long,
                         org.apache.arrow.vector.dictionary.Dictionary])
      : Field = {
    if (f.getDictionary != null) {
      val d = dicts.get(f.getDictionary.getId)
      if (d == null) unsupported(
        s"dictionary id ${f.getDictionary.getId} missing from the file")
      val vf = d.getVector.getField
      new Field(f.getName,
        new org.apache.arrow.vector.types.pojo.FieldType(
          f.isNullable, vf.getType, null, vf.getMetadata),
        vf.getChildren.asScala.map(resolveDictField(_, dicts)).asJava)
    } else if (f.getChildren.isEmpty) f
    else new Field(f.getName, f.getFieldType,
      f.getChildren.asScala.map(resolveDictField(_, dicts)).asJava)
  }

  /** Whether any field in the subtree is dictionary-encoded. */
  def hasDict(f: Field): Boolean =
    f.getDictionary != null || f.getChildren.asScala.exists(hasDict)
}

private[sources] class GraftArrowTable(schema: StructType,
                                       props: Map[String, String])
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftarrow(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftArrowScanBuilder(schema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftArrowWriteBuilder(info, props)
}

private[sources] class GraftArrowScanBuilder(fullSchema: StructType,
                                             options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pruneFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the source's field order; an empty projection (COUNT(*))
    // keeps zero columns and the reader only counts batch rows
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names(f.name)))
  }
  // filters are consumed for FILE SKIPPING only (zone-map sidecars);
  // Spark keeps every filter post-scan, so a missing/stale sidecar can
  // never lose rows — the parquet-footer-pruning posture, not
  // row-level pushdown
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pruneFilters = filters
    filters // everything stays a Spark-side residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def build(): Scan =
    new GraftArrowScan(fullSchema, required, options, pruneFilters.toSeq)
}

private[sources] class GraftArrowScan(fullSchema: StructType,
                                      required: StructType,
                                      options: CaseInsensitiveStringMap,
                                      pruneFilters: Seq[org.apache.spark.sql.sources.Filter])
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val conf = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  // stats are trusted only when the sidecar's recorded tag matches the
  // declared read type — same rule as graftdocs
  private lazy val trustedTag: Map[String, String] =
    fullSchema.fields.flatMap(f =>
      ZoneMaps.tagOf(f.dataType).filter(_ != "dec").map(f.name -> _)).toMap

  private lazy val (kept, totalFiles): (Seq[(String, Long)], Int) = {
    val all = GraftArrowSource.listArrowRefs(
      GraftArrowSource.pathOf(options), conf.value)
    if (pruneFilters.isEmpty || all.isEmpty) (all, all.size)
    else {
      val fs = new Path(all.head._1).getFileSystem(conf.value)
      val surv = all.filter { case (path, len) =>
        ZoneMaps.load(fs, path, len) match {
          case Some(st) =>
            val trusted = st.cols.filter { case (name, cs) =>
              trustedTag.get(name).contains(cs.tag) }
            pruneFilters.forall(f => ZoneMaps.mayMatch(f, trusted))
          case None => true // no/stale sidecar: keep (soundness)
        }
      }
      (surv, all.size)
    }
  }

  override def description(): String = {
    val prune = if (pruneFilters.isEmpty) ""
      else s", ZoneMapPruned: ${totalFiles - kept.size}/$totalFiles"
    s"graftarrow(${GraftArrowSource.pathOf(options)})$prune"
  }

  override def planInputPartitions(): Array[InputPartition] =
    kept.map { case (f, _) => GraftArrowPartition(f): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftArrowReaderFactory(required, conf)
}

private[sources] case class GraftArrowPartition(file: String)
  extends InputPartition

/** Reader-owned [[ArrowColumnVector]]: `ColumnarToRowExec` calls
  * `closeIfFreeable()` on every batch after consuming it, and the
  * default frees the column. These vectors are REUSED by the
  * ArrowFileReader across `loadNextBatch` calls — and closing a
  * StructVector removes its children, so the next load fails with
  * "should have as many children as in the schema". Early free is a
  * no-op here; the partition reader's close() releases everything. */
private[sources] final class ReaderOwnedArrowVector(
    v: org.apache.arrow.vector.ValueVector)
  extends ArrowColumnVector(v) {
  override def closeIfFreeable(): Unit = ()
}

/** Struct column whose encoded children were dictionary-decoded: the
  * struct's own validity reads from the reader-owned vector, children
  * are the (possibly decoded) wrapped vectors. Scalar accessors never
  * apply to a struct column; lifecycle is reader-owned (the decode
  * buffers release per batch). */
private[sources] final class GraftStructVector(
    v: org.apache.arrow.vector.complex.StructVector,
    children: Array[ColumnVector],
    dt: DataType) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def closeIfFreeable(): Unit = ()
  override def hasNull: Boolean = v.getNullCount > 0
  override def numNulls(): Int = v.getNullCount
  override def isNullAt(rowId: Int): Boolean = v.isNull(rowId)
  override def getChild(ordinal: Int): ColumnVector = children(ordinal)
  private def no: Nothing =
    throw new UnsupportedOperationException("struct column")
  override def getBoolean(rowId: Int): Boolean = no
  override def getByte(rowId: Int): Byte = no
  override def getShort(rowId: Int): Short = no
  override def getInt(rowId: Int): Int = no
  override def getLong(rowId: Int): Long = no
  override def getFloat(rowId: Int): Float = no
  override def getDouble(rowId: Int): Double = no
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray = no
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap = no
  override def getDecimal(rowId: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = no
  override def getUTF8String(rowId: Int)
      : org.apache.spark.unsafe.types.UTF8String = no
  override def getBinary(rowId: Int): Array[Byte] = no
}

/** List column whose element vector was dictionary-decoded: offsets and
  * validity read from the reader-owned list vector, elements from the
  * wrapped (decoded) data vector. */
private[sources] final class GraftListVector(
    v: ListVector, element: ColumnVector,
    dt: DataType) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def closeIfFreeable(): Unit = ()
  override def hasNull: Boolean = v.getNullCount > 0
  override def numNulls(): Int = v.getNullCount
  override def isNullAt(rowId: Int): Boolean = v.isNull(rowId)
  override def getArray(rowId: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = {
    val start = v.getElementStartIndex(rowId)
    val end = v.getElementEndIndex(rowId)
    new org.apache.spark.sql.vectorized.ColumnarArray(element, start,
      end - start)
  }
  override def getChild(ordinal: Int): ColumnVector = element
  private def no: Nothing =
    throw new UnsupportedOperationException("list column")
  override def getBoolean(rowId: Int): Boolean = no
  override def getByte(rowId: Int): Byte = no
  override def getShort(rowId: Int): Short = no
  override def getInt(rowId: Int): Int = no
  override def getLong(rowId: Int): Long = no
  override def getFloat(rowId: Int): Float = no
  override def getDouble(rowId: Int): Double = no
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap = no
  override def getDecimal(rowId: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = no
  override def getUTF8String(rowId: Int)
      : org.apache.spark.unsafe.types.UTF8String = no
  override def getBinary(rowId: Int): Array[Byte] = no
}

private[sources] class GraftArrowReaderFactory(
    required: StructType, conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val file = partition.asInstanceOf[GraftArrowPartition].file
    new PartitionReader[ColumnarBatch] {
      private val p = new Path(file)
      private val fs = p.getFileSystem(conf.value)
      private val in = fs.open(p)
      private val alloc = new RootAllocator()
      private val reader = GraftArrowSource.openReader(fs, p, in, alloc)
      private val root = reader.getVectorSchemaRoot
      // required-column vector positions, resolved once (files written
      // by foreign tools may order fields differently from inference)
      private val idx: Array[Int] = required.fieldNames.map { n =>
        val i = root.getSchema.getFields.asScala.indexWhere(_.getName == n)
        if (i < 0) throw new IllegalArgumentException(
          s"graftarrow: file $file lacks column '$n'")
        i
      }
      private var current: ColumnarBatch = null
      // dictionary-encoded columns decode to fresh value vectors per
      // batch — owned HERE (reader-reused vectors are not), released
      // before the next load and at close
      private val decoded =
        scala.collection.mutable.ArrayBuffer
          .empty[org.apache.arrow.vector.ValueVector]
      private def releaseDecoded(): Unit = {
        decoded.foreach(_.close()); decoded.clear()
      }

      override def next(): Boolean = {
        releaseDecoded()
        if (!reader.loadNextBatch()) return false
        // vectors are reused by the reader across loadNextBatch calls —
        // a fresh wrapper per batch, valid until the next call (the
        // PartitionReader contract). Dictionary-encoded vectors (top-
        // level OR nested in struct/list — pyarrow writes both) decode
        // against the CURRENT dictionary state (stream-format
        // replacement messages); a composite containing one wraps its
        // children so only the encoded subtree pays the decode.
        def decodeVec(v: org.apache.arrow.vector.ValueVector)
            : org.apache.arrow.vector.ValueVector = {
          val enc = v.getField.getDictionary
          val d = reader.getDictionaryVectors.get(enc.getId)
          if (d == null) throw new IllegalArgumentException(
            s"graftarrow: file $file references dictionary " +
              s"${enc.getId} it never defined")
          val dv = org.apache.arrow.vector.dictionary.DictionaryEncoder
            .decode(v, d)
          decoded += dv
          dv
        }
        def wrap(v: org.apache.arrow.vector.ValueVector): ColumnVector = {
          if (v.getField.getDictionary != null) return wrap(decodeVec(v))
          if (!GraftArrowSource.hasDict(v.getField))
            return new ReaderOwnedArrowVector(v)
          val dt = GraftArrowSource.toSparkType(GraftArrowSource
            .resolveDictField(v.getField, reader.getDictionaryVectors))
          v match {
            case s: org.apache.arrow.vector.complex.StructVector =>
              new GraftStructVector(s,
                (0 until s.size()).map(ci =>
                  wrap(s.getChildByOrdinal(ci))).toArray, dt)
            case l: ListVector =>
              new GraftListVector(l, wrap(l.getDataVector), dt)
            case other => throw new IllegalArgumentException(
              "graftarrow: dictionary-encoded field nested inside " +
                s"${other.getField.getType} is unsupported (struct/" +
                "list parents decode)")
          }
        }
        val cols: Array[ColumnVector] = idx.map(i => wrap(root.getVector(i)))
        current = new ColumnarBatch(cols, root.getRowCount)
        true
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = {
        releaseDecoded()
        reader.close(); in.close(); alloc.close()
      }
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graftarrow reads are columnar")
}

// ---- write side ----------------------------------------------------------

private[sources] class GraftArrowWriteBuilder(info: LogicalWriteInfo,
                                              props: Map[String, String])
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = props.getOrElse("path", info.options.get("path"))
      require(path != null, "graftarrow: path is required")
      val batchRows = Option(info.options.get("batchRows"))
        .map(_.toInt).getOrElse(4096)
      require(batchRows > 0, "graftarrow: batchRows must be positive")
      val zoneMaps = Option(info.options.get("zoneMaps"))
        .forall(_.toBoolean)
      val ipcFormat = Option(info.options.get("ipcFormat"))
        .getOrElse("file")
      require(ipcFormat == "file" || ipcFormat == "stream",
        s"graftarrow: ipcFormat must be 'file' or 'stream', got '$ipcFormat'")
      // record-batch BODY compression (what pyarrow's compression=
      // writes): zstd or lz4 frames inside the IPC envelope — the
      // interchange files shrink, every conforming reader (incl. this
      // source) inflates transparently
      val codec = Option(info.options.get("codec")).map {
        case "zstd" => org.apache.arrow.vector.compression
          .CompressionUtil.CodecType.ZSTD
        case "lz4" => org.apache.arrow.vector.compression
          .CompressionUtil.CodecType.LZ4_FRAME
        case other => throw new IllegalArgumentException(
          s"graftarrow: codec must be zstd|lz4, got '$other'")
      }
      // validate the schema maps BEFORE launching tasks
      GraftArrowSource.toArrowSchema(info.schema()): Unit
      new GraftArrowBatchWrite(info.schema(), path, doTruncate, batchRows,
        zoneMaps, ipcFormat == "stream", codec,
        new SerializableConfiguration(org.apache.spark.sql.SparkSession
          .active.sessionState.newHadoopConf()))
    }
  }
}

private[sources] class GraftArrowBatchWrite(schema: StructType, path: String,
                                            truncate: Boolean, batchRows: Int,
                                            zoneMaps: Boolean,
                                            streamFormat: Boolean,
                                            codec: Option[org.apache.arrow
                                              .vector.compression
                                              .CompressionUtil.CodecType],
                                            conf: SerializableConfiguration)
  extends BatchWrite {
  private val jobToken = java.util.UUID.randomUUID().toString.take(8)
  // data files and their zone-map sidecars; `_`-prefixed names are not
  // this sink's (listArrowRefs skips them too)
  private val staging = new StagedCommit(path, conf.value, "graftarrow",
    n => !n.startsWith("_") &&
      (n.endsWith(".arrow") || n.endsWith(".arrows") || n.endsWith(".zmap")))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    staging.prepare(truncate)
    new GraftArrowWriterFactory(schema, path, jobToken, batchRows, zoneMaps,
      streamFormat, codec, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    staging.commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.abort(messages)
}

private[sources] class GraftArrowWriterFactory(schema: StructType, path: String,
                                               jobToken: String, batchRows: Int,
                                               zoneMaps: Boolean,
                                               streamFormat: Boolean,
                                               codec: Option[org.apache.arrow
                                                 .vector.compression
                                                 .CompressionUtil.CodecType],
                                               conf: SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftArrowDataWriter(schema, path, jobToken, partitionId, taskId,
      batchRows, zoneMaps, streamFormat, codec, conf.value)
}

/** Per-task writer: one staged hidden `.arrow` file, record batches of
  * `batchRows` rows, filled from InternalRow by Spark's own
  * [[org.apache.spark.sql.execution.arrow.ArrowWriter]] (no Row
  * conversion). */
private[sources] class GraftArrowDataWriter(schema: StructType, path: String,
                                            jobToken: String, partitionId: Int,
                                            taskId: Long, batchRows: Int,
                                            zoneMaps: Boolean,
                                            streamFormat: Boolean,
                                            codec: Option[org.apache.arrow
                                              .vector.compression
                                              .CompressionUtil.CodecType],
                                            conf: org.apache.hadoop.conf.Configuration)
  extends DataWriter[InternalRow] {
  // zone-map stats ride a .zmap sidecar through the same hidden-rename
  // commit (the graftdocs discipline); stats collect over external Rows
  private val stats =
    if (zoneMaps) Some(new ZoneMaps.Collector(schema)).filter(_.nonEmptySchema)
    else None
  private val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToScalaConverter(schema)
  private val staged = new Path(path,
    s".part-$jobToken-$partitionId-$taskId.arrow" +
      (if (streamFormat) "s" else ""))
  private val fs = graft.sinks.DocStore.storeFs(staged, conf)
  private val out = fs.create(staged, true)
  private val alloc = new RootAllocator()
  private val arrowSchema = GraftArrowSource.toArrowSchema(schema)
  private val root = VectorSchemaRoot.create(arrowSchema, alloc)
  private val values =
    org.apache.spark.sql.execution.arrow.ArrowWriter.create(root)
  private val writer: ArrowWriter = {
    val ch = java.nio.channels.Channels.newChannel(out)
    val fac = org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE
    val opt = org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT
    (streamFormat, codec) match {
      case (true, Some(ct)) => new ArrowStreamWriter(root, null, ch, opt,
        fac, ct)
      case (true, None) => new ArrowStreamWriter(root, null, ch)
      case (false, Some(ct)) => new ArrowFileWriter(root, null, ch,
        new java.util.HashMap[String, String](), opt, fac, ct)
      case (false, None) => new ArrowFileWriter(root, null, ch)
    }
  }
  writer.start()

  private var rowIdx = 0
  private var total = 0L

  override def write(record: InternalRow): Unit = {
    values.write(record)
    stats.foreach(_.update(
      toScala(record).asInstanceOf[org.apache.spark.sql.Row]))
    rowIdx += 1
    total += 1
    if (rowIdx >= batchRows) flush()
  }

  private def flush(): Unit = if (rowIdx > 0) {
    values.finish() // value counts and the root's row count
    writer.writeBatch()
    values.reset()
    rowIdx = 0
  }

  override def commit(): WriterCommitMessage = {
    flush()
    writer.end(); writer.close(); out.close()
    root.close(); alloc.close()
    // an all-empty task stages nothing (no empty files in the output)
    if (total == 0) { fs.delete(staged, false); StagedFiles(Seq.empty) }
    else {
      val names = Seq.newBuilder[String]
      names += staged.toString
      stats.foreach { st =>
        val side = new Path(staged.toString + ".zmap")
        val zout = fs.create(side, true)
        try zout.write(st.encode(fs.getFileStatus(staged).getLen))
        finally zout.close()
        names += side.toString
      }
      StagedFiles(names.result())
    }
  }

  override def abort(): Unit = {
    try { writer.close(); out.close(); root.close(); alloc.close() }
    catch { case _: Exception => () }
    fs.delete(staged, false): Unit
    fs.delete(new Path(staged.toString + ".zmap"), false): Unit
  }

  override def close(): Unit = ()
}
