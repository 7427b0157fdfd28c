package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.bson.{BsonBinary, DocDecoder}

import scala.jdk.CollectionConverters._

/** DataSource V2 connector for document batches — the Spark twin of the
  * reference's client: `find_arrow_all` becomes
  * `spark.read.format("graftdocs").schema(s).load(path).where(...)`, and
  * `write()` (reference api.py:602-713) becomes
  * `df.write.format("graftdocs").mode("append").save(path)`.
  *
  * Two file formats share one decode path:
  *  - `*.jsonl` — extended-JSON lines (one document per line);
  *  - `*.bson`  — raw concatenated BSON documents (the mongodump layout,
  *    the reference's native input: `process_bson_stream` over a
  *    `bson_reader_t`, lib.pyx:296-311), parsed by [[BsonBinary]] into
  *    the same canonical node shape, so coercion semantics are format-
  *    independent by construction.
  *
  * Pushdown parity (reference api.py:172-175):
  *  - **column pruning IS the projection synthesis**: the decoder only
  *    materializes the pruned schema's fields — unread document fields
  *    are skipped exactly like the server-side projection doc the
  *    reference synthesizes from its Schema (schema.py:68-85);
  *  - filters are reported back as post-scan (a document file can't
  *    skip rows), mirroring a find against an unindexed collection —
  *    Catalyst evaluates them directly over the decoded batch.
  *
  * Partitioning: `.jsonl` files split into newline-aligned byte ranges;
  * `.bson` files are one split each (length-prefixed documents have no
  * sync marker — batches should land as many files, the reference's unit
  * of parallel decode, api.py:181-199). Paths resolve through the Hadoop
  * FileSystem API (globs, `file:`/`hdfs:`/object-store URIs) — the 100 TB
  * deployment does not keep batches on local disk.
  *
  * Options: `allowInvalid` (default false) — the reference's
  * strict-vs-null coercion switch (api.py:148-149); `maxSplitBytes`;
  * write-side `format` = `jsonl` (default) | `bson`.
  */
object GraftDocSource {
  private[sources] case class FileRef(path: String, length: Long,
                                      mtime: Long = 0L,
                                      partitionValues: Seq[(String, String)] = Seq.empty) {
    def isBson: Boolean = path.endsWith(".bson")
  }

  /** Hive's null-partition directory marker. */
  private[sources] val NullPartitionValue = "__HIVE_DEFAULT_PARTITION__"

  /** Escape a partition value for use as a path segment: every byte of
    * the UTF-8 encoding outside [A-Za-z0-9_.-] becomes %XX, so values
    * containing '/', '=', '%', spaces, or multi-byte characters
    * round-trip exactly through the directory name. */
  private[sources] def escapePathValue(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new StringBuilder(bytes.length)
    bytes.foreach { b =>
      val c = (b & 0xFF).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-') sb.append(c)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    sb.toString
  }

  /** Inverse of [[escapePathValue]], tolerant of EXTERNAL layouts this
    * connector didn't write: literal non-ASCII characters pass through
    * untouched (Hive's own escaper leaves them unescaped), and a '%'
    * not followed by two hex digits is a literal '%' rather than an
    * error. Only %XX runs are byte-decoded (as UTF-8). */
  private[sources] def unescapePathValue(s: String): String = {
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val sb = new StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (bytes.size() > 0) {
      sb.append(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** `k=v` directory-name parse (None for non-partition directories). */
  private[sources] def partitionSegment(name: String): Option[(String, String)] = {
    val i = name.indexOf('=')
    if (i <= 0) None
    else Some((name.substring(0, i), unescapePathValue(name.substring(i + 1))))
  }

  /** Recursive descent through a hive-style partitioned layout: files at
    * each level plus `k=v` subdirectories (whose files inherit the
    * accumulated partition values). Non-partition subdirectories are out
    * of the layout contract and skipped. */
  private def listPartitionedDir(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: Path,
                                 pvals: Seq[(String, String)]): Seq[FileRef] = {
    val entries = fs.listStatus(dir).toSeq
    val files = entries
      .filter(s => s.isFile && isDocFile(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .map(st => FileRef(st.getPath.toString, st.getLen, st.getModificationTime, pvals))
    val sub = entries
      .filter(s => s.isDirectory && !isHidden(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap { d =>
        partitionSegment(d.getPath.getName) match {
          case Some((k, v)) => listPartitionedDir(fs, d.getPath, pvals :+ (k -> v))
          case None => Seq.empty
        }
      }
    files ++ sub
  }

  private[sources] def activeHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** Single resolver for the input file list, honoring both 'path' and
    * 'paths' (DataFrameReader.load(paths*) JSON-encodes the latter), so
    * schema inference and the scan always agree on what gets read.
    * Resolution goes through Hadoop FileSystem.globStatus: literal
    * paths, directories (picking *.jsonl / *.bson), and glob patterns
    * all work on any configured filesystem. */
  private[sources] def resolveFiles(options: CaseInsensitiveStringMap): Seq[FileRef] = {
    val raw: Seq[String] =
      Option(options.get("path")).map(Seq(_))
        .orElse(Option(options.get("paths")).map(parsePaths))
        .getOrElse(throw new IllegalArgumentException(
          "graftdocs: 'path' or 'paths' required"))
    val conf = activeHadoopConf()
    raw.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched: Seq[FileStatus] =
        Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (matched.isEmpty) throw new IllegalArgumentException(
        s"graftdocs: no files match $p")
      // `partitionDiscovery=false` restores the flat single-level
      // listing — the escape hatch for layouts that happen to contain
      // k=v-named subdirectories without being hive-partitioned (a
      // mixed root-files + k=v-subdir tree is otherwise refused as
      // inconsistent, matching Spark's own conflicting-layout error)
      val discover = options.getBoolean("partitiondiscovery", true)
      matched.flatMap { st =>
        if (st.isDirectory) {
          if (discover) listPartitionedDir(fs, st.getPath, Seq.empty)
          else fs.listStatus(st.getPath).toSeq
            .filter(s => s.isFile && isDocFile(s.getPath.getName))
            .sortBy(_.getPath.getName)
            .map(s => FileRef(s.getPath.toString, s.getLen, s.getModificationTime))
        }
        else Seq(st).filterNot(s => isHidden(s.getPath.getName))
          // globs match dot-files ('*' is '[^/]*' — no shell hidden-file
          // exclusion), which would surface uncommitted staged batches
          .map(s => FileRef(s.getPath.toString, s.getLen, s.getModificationTime))
      }
    }
  }

  /** The per-file inference sidecar beside a directory's batch files:
    * `{"files": {file name → type tree as DataType json}}`, kept by
    * [[graft.sinks.DocStore]]'s append paths (one tree per batch file,
    * folded as the batch is appended) through [[writeInferSidecar]];
    * [[sidecarSchema]] is the one reader. */
  val InferSidecarName = "_graft_infer.json"

  /** One BSON batch stream's type tree, as DataType json: the per-file
    * fold the inference job runs ([[graft.bson.SchemaInference.typeTree]]
    * over [[BsonBinary.documents]]). Raises what the job would raise on
    * a malformed stream. */
  private[graft] def bsonTree(in: java.io.InputStream): String =
    graft.bson.SchemaInference.typeTree(BsonBinary.documents(in)).json

  /** The sidecar's {file name → tree json} entries. */
  private[graft] def readInferSidecar(in: java.io.InputStream): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    Option(node.get("files")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()))
      .toMap
  }

  /** Write the sidecar format (entries sorted by file name) to `out`. */
  private[graft] def writeInferSidecar(out: java.io.OutputStream,
                                       trees: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val files = root.putObject("files")
    trees.toSeq.sortBy(_._1).foreach { case (k, v) => files.put(k, v): Unit }
    out.write(mapper.writeValueAsBytes(root))
  }

  /** Some(schema) when ALL resolved files are .bson siblings in one
    * flat directory covered exactly by that directory's
    * [[InferSidecarName]] sidecar. Merging the stored trees in file
    * order is the same fold the distributed inference performs with one
    * file per partition, so the result is byte-identical — this only
    * short-circuits the job. Any structural mismatch returns None and
    * the caller runs the job. */
  private[sources] def sidecarSchema(files: Seq[FileRef]): Option[StructType] =
    try {
      if (files.isEmpty || !files.forall(_.isBson)) return None
      val paths = files.map(f => new Path(f.path))
      val parent = paths.head.getParent
      if (parent == null || !paths.forall(p => parent == p.getParent))
        return None
      if (DocPartitions.partitionCols(files).nonEmpty) return None
      val fs = parent.getFileSystem(activeHadoopConf())
      val side = new Path(parent, InferSidecarName)
      if (!fs.exists(side)) return None
      val in = fs.open(side)
      val entries = try readInferSidecar(in) finally in.close()
      val names = paths.map(_.getName)
      if (entries.keySet != names.toSet) return None
      val trees = names.map(n =>
        org.apache.spark.sql.types.DataType.fromJson(entries(n)))
      Some(graft.bson.SchemaInference.mergeTrees(trees))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_") // Hadoop convention (.crc, staged)

  private def isDocFile(name: String): Boolean =
    (name.endsWith(".jsonl") || name.endsWith(".bson")) && !isHidden(name)

  private def parsePaths(s: String): Seq[String] =
    if (s.trim.startsWith("[")) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readValue(s, classOf[Array[String]]).toSeq
    } else s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

class GraftDocSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftdocs"

  // declared schemas are the reference's primary mode (api.py:140-147)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val files = GraftDocSource.resolveFiles(options)
    val conf = new SerializableConfiguration(GraftDocSource.activeHadoopConf())
    // inference bound: at 100 TB a full-corpus inference pass costs as
    // much as the scan itself. `inferMaxDocs` (per file, default
    // unlimited = the reference's whole-cursor inference) caps the
    // sample — an explicit, documented trade: a type first observed
    // past the cap (late int64 widening, late-appearing fields) is
    // missed, exactly like every sampling inferrer (Spark JSON's
    // samplingRatio). Declared schemas remain the scale-correct mode.
    val maxDocs = options.getLong("infermaxdocs", Long.MaxValue)
    if (maxDocs <= 0) throw new IllegalArgumentException(
      s"graftdocs: inferMaxDocs must be positive, got $maxDocs")
    // inference sidecar (DocStore's appends keep a per-FILE type tree
    // beside the batch files): when every resolved file is covered,
    // merging the stored trees in file order is byte-identical to the
    // distributed fold below (same per-file trees, same merge, same
    // order — one task per file means partition index = file order),
    // so the read-back of an append-built collection skips the job
    // entirely (guide §6). Any mismatch (extra/missing entries, hive
    // layouts, jsonl, an inferMaxDocs sample bound, parse failure)
    // falls through.
    if (maxDocs == Long.MaxValue) GraftDocSource.sidecarSchema(files) match {
      case Some(st) => return st
      case None => ()
    }
    // one task per file; partition order = file order, so the
    // "first observed value wins" rule stays well-defined globally
    val nodes = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { ref =>
        val in = new Path(ref.path).getFileSystem(conf.value)
          .open(new Path(ref.path))
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        val docs =
          if (ref.isBson) BsonBinary.documents(in)
          else {
            val mapper = DocDecoder.newMapper()
            val reader = new java.io.BufferedReader(
              new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
            Iterator.continually(reader.readLine()).takeWhile(_ != null)
              .filter(_.nonEmpty).map(mapper.readTree)
          }
        if (maxDocs == Long.MaxValue) docs else docs.take(
          math.min(maxDocs, Int.MaxValue.toLong).toInt)
      }
    val base = graft.bson.SchemaInference.inferNodes(nodes)
    // hive-layout partition columns live in directory names, not the
    // documents: append them (string-typed — inference has no value
    // stream to widen from; declare a schema to type them) in key order
    val pcols = DocPartitions.partitionCols(files)
      .filterNot(base.fieldNames.contains)
    pcols.foldLeft(base)((s, c) =>
      s.add(c, org.apache.spark.sql.types.StringType, nullable = true))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftDocTable(schema, properties.asScala.toMap)
}

private[sources] class GraftDocTable(schema: StructType, props: Map[String, String])
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftdocs(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  // Provider-path reads/writes pass the load() options here verbatim
  // (props == options); CATALOG-resolved tables arrive with empty or
  // session-only options, so the table's own properties (path/format/
  // partitionBy from the catalog + sidecar) are the routing source —
  // merged underneath so explicit per-operation options still win.
  private def merged(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    if (props.isEmpty) options
    else new CaseInsensitiveStringMap((props ++ options.asScala).asJava)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(schema, merged(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(new LogicalWriteInfo {
      override def queryId: String = info.queryId
      override def schema: StructType = info.schema
      override def options: CaseInsensitiveStringMap = merged(info.options)
    })
}

private[sources] class GraftScanBuilder(fullSchema: StructType,
                                        options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownLimit with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty
  private var partFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var aggSpecs: Seq[PushedAgg] = Seq.empty
  private var groupBySpecs: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty

  // resolved ONCE at planning; partition pruning and the scan share it
  private lazy val allFiles = GraftDocSource.resolveFiles(options)
  private lazy val partCols: Set[String] = DocPartitions.partitionCols(allFiles).toSet

  /** Cast success of every file's directory value for `col` — a value the
    * declared type can't parse disqualifies the column from exact pruning
    * (the filter stays residual; the read itself will still error when
    * the column is required). */
  private lazy val castOk: Map[String, Boolean] =
    partCols.iterator.map { c =>
      val dt = fullSchema.fields.find(_.name == c).map(_.dataType)
      c -> dt.exists(t => DocPartitions.castable(t) &&
        (try { allFiles.foreach(f => f.partitionValues.collectFirst {
           case (`c`, raw) => DocPartitions.cast(raw, t) }); true }
         catch { case _: Exception => false }))
    }.toMap

  /** A filter the partition layout decides EXACTLY, file by file. */
  private def claimable(f: Filter): Boolean =
    f.references.nonEmpty && f.references.forall(r => partCols(r) && castOk(r)) &&
      DocPartitions.exactShape(f)

  private def typedPartitionValues(f: GraftDocSource.FileRef): String => Any = {
    val m = f.partitionValues.toMap
    name => m.get(name).map { raw =>
      DocPartitions.cast(raw, fullSchema.fields.find(_.name == name).get.dataType)
    }.orNull
  }

  private def prunedFiles: Seq[GraftDocSource.FileRef] =
    if (partFilters.isEmpty) allFiles
    else allFiles.filter { f =>
      val get = typedPartitionValues(f)
      partFilters.forall(pf => DocPartitions.eval3(pf, get).contains(true))
    }

  // Aggregations answerable without decoding a document (no residual
  // filters): COUNT(*) — .bson partitions hop length prefixes, .jsonl
  // partitions count line bytes (parquet's metadata count, doc-source
  // form) — and MIN/MAX of PARTITION columns, which come from the
  // directory values alone (parquet's footer min/max, with zero bytes
  // read). GROUP BY composes when every grouping key is a partition
  // column: groups ARE directories, so `SELECT source, count(*) ...
  // GROUP BY source` over a 100 TB layout costs metadata reads only.
  // Partition-only filters compose: they pruned the file list first.
  // Partial pushdown: each partition emits its piece (one row per
  // group it covers), Spark's final aggregate combines. (Spark only
  // offers the aggregation when every filter was fully pushed;
  // doc-field filters stay residual, so a doc-filtered aggregate never
  // reaches here.)
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (!(filters.forall(claimable) &&
          limit.isEmpty && agg.aggregateExpressions.nonEmpty)) return false
    def partRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
          val c = nr.fieldNames.head
          if (partCols(c) && castOk(c)) Some(c) else None
        case _ => None
      }
    // grouping keys must ALL be partition columns (the layout decides
    // group membership file-by-file); anything else keeps the real scan
    val groupRefs = agg.groupByExpressions.toSeq.map(partRef)
    if (!groupRefs.forall(_.isDefined)) return false
    groupBySpecs = groupRefs.flatten.map(c =>
      c -> fullSchema.fields.find(_.name == c).get.dataType)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    def typeOf(c: String) = fullSchema.fields.find(_.name == c).get.dataType
    import org.apache.spark.sql.connector.expressions.aggregate.Count
    val parsed: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggCountStar)
      // same guard as MIN/MAX (docStatRef): sidecar tag must match the
      // DECLARED read type and decimals refuse — cross-tag coercion
      // (allowInvalid nulling) and the DecimalType clamp create read-time
      // nulls the write-side null bookkeeping never saw, so rows−nulls
      // would over-count what a real scan returns
      case c: Count if !c.isDistinct =>
        colName(c.column).filter(n => docStatRef(n).isDefined)
          .map(AggCountDoc(_))
      case m: Min => partRef(m.column).map(c => AggMinPart(c, typeOf(c)))
        .orElse(colName(m.column).flatMap(c =>
          docStatRef(c).map { case (dt, tag) => AggMinDoc(c, dt, tag) }))
      case m: Max => partRef(m.column).map(c => AggMaxPart(c, typeOf(c)))
        .orElse(colName(m.column).flatMap(c =>
          docStatRef(c).map { case (dt, tag) => AggMaxDoc(c, dt, tag) }))
      case _ => None
    }
    if (parsed.forall(_.isDefined)) { aggSpecs = parsed.flatten; true }
    else { groupBySpecs = Seq.empty; false }
  }

  // MIN/MAX of a DOCUMENT column from `.zmap` sidecars alone — parquet
  // footer statistics, doc-source form: on a 100 TB layout the answer
  // costs one tiny metadata read per file, zero document decodes. The
  // claim is sound only on PROOF that the sidecars describe exactly
  // what a real scan would produce, so it requires:
  //  - zone maps enabled, and EVERY planned file carrying a trusted
  //    (length-matched) sidecar with stats for the column — a missing
  //    entry is ambiguous between all-null and poisoned-by-an-oversized-
  //    string, so it refuses;
  //  - the sidecar tag matching the DECLARED read type's tag: cross-type
  //    coercion (double file values truncating into an int read) stays
  //    on the real scan path;
  //  - no decimals: the read-side DecimalType clamp nulls out-of-range
  //    values (documented §7.4 restriction), which stats can't see.
  // Integral narrowing within the i64 tag raises on overflow at fold
  // time — the same error a real scan of that file would raise.
  private lazy val zoneStatsForAgg: Option[Map[String, ZoneMaps.FileStats]] =
    if (!options.getBoolean("zonemaps", true)) None
    else {
      val files = prunedFiles
      if (files.isEmpty) Some(Map.empty)
      else {
        val fs = new Path(files.head.path)
          .getFileSystem(GraftDocSource.activeHadoopConf())
        val loaded = files.map(f => f.path -> ZoneMaps.load(fs, f.path, f.length))
        if (loaded.forall(_._2.isDefined))
          Some(loaded.map { case (p, s) => p -> s.get }.toMap)
        else None
      }
    }

  private def docStatRef(c: String): Option[(org.apache.spark.sql.types.DataType, String)] =
    if (partCols(c)) None
    else fullSchema.fields.find(_.name == c).flatMap { f =>
      ZoneMaps.tagOf(f.dataType).filter(_ != "dec").flatMap { tag =>
        zoneStatsForAgg.flatMap { m =>
          // Integral narrowing (i64 sidecar read as int/short/byte): a
          // real scan RAISES on any overflowing row, but COUNT(col)
          // never inspects values and MIN/MAX only raise when the
          // overflowing value wins the cross-file fold — so the
          // metadata answer could succeed where the scan errors. Claim
          // the pushdown only when every file's min AND max fit the
          // declared range (then no row can overflow and scan/stat
          // error behavior provably agree); otherwise fall back to the
          // real scan and its error.
          val narrowOk: ZoneMaps.ColStats => Boolean =
            if (tag != "i64" || f.dataType == org.apache.spark.sql.types.LongType)
              _ => true
            else {
              val (lo, hi) = f.dataType match {
                case org.apache.spark.sql.types.IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
                case org.apache.spark.sql.types.ShortType   => (Short.MinValue.toLong, Short.MaxValue.toLong)
                case _                                      => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
              }
              st => (st.min, st.max) match {
                case (null, null)           => true // all-null file
                case (mn: Long, mx: Long)   => mn >= lo && mx <= hi
                case _                      => false
              }
            }
          if (m.values.forall(st =>
              st.cols.get(c).exists(cs => cs.tag == tag && narrowOk(cs))))
            Some((f.dataType, tag))
          else None
        }
      }
    }

  // LIMIT n reaches the decoder: each partition stops decoding after n
  // surviving rows (Spark still applies the global limit on top). A
  // find(..., limit=n) then reads ~n documents per split instead of the
  // whole file — at 100 TB the difference between a point lookup and a
  // full scan.
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  // projection synthesis: only the pruned columns are decoded
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val byName = fullSchema.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fields.map(f => byName.getOrElse(f.name, f)))
  }

  // Doc-field filters are evaluated DURING decode (the Spark twin of the
  // reference handing the filter doc to the server, api.py:175): rows
  // failing a supported predicate never pay Catalyst conversion; they are
  // returned for post-scan evaluation too, so unsupported shapes (nested
  // paths, exotic types) stay correct. Partition-column filters are
  // FULLY handled — exact three-valued pruning over the constant
  // directory values — so they are NOT returned and Catalyst drops the
  // post-scan Filter entirely.
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    val (part, rest) = fs.partition(claimable)
    partFilters = part
    rest
  }
  override def pushedFilters(): Array[Filter] =
    partFilters ++ filters.filterNot(claimable)
      .filter(DocFilterEval.supported(_, fullSchema))

  override def build(): Scan = {
    if (aggSpecs.nonEmpty) new GraftAggScan(options, prunedFiles, aggSpecs,
      partFilters, allFiles.size,
      if (aggSpecs.exists {
        case _: AggMinDoc | _: AggMaxDoc | _: AggCountDoc => true; case _ => false })
        zoneStatsForAgg.getOrElse(Map.empty)
      else Map.empty,
      groupBySpecs)
    else new GraftScan(required, options,
      filters.filterNot(claimable).filter(DocFilterEval.supported(_, fullSchema)),
      limit, Some(prunedFiles), partFilters, allFiles.size,
      partCols.iterator.flatMap(c =>
        fullSchema.fields.find(_.name == c).map(f => c -> f.dataType)).toMap)
  }
}

/** COUNT(*)-pushdown scan: one long per partition, no decode. */
/** Aggregates the scan can answer without decoding a document:
  * COUNT(*) from length-prefix hops / line-byte counts, MIN/MAX of a
  * partition column from the directory values alone (zero bytes read —
  * the doc-source analogue of parquet's footer min/max). */
private[sources] sealed trait PushedAgg
private[sources] case object AggCountStar extends PushedAgg
private[sources] case class AggMinPart(col: String, dt: org.apache.spark.sql.types.DataType)
  extends PushedAgg
private[sources] case class AggMaxPart(col: String, dt: org.apache.spark.sql.types.DataType)
  extends PushedAgg
/** MIN/MAX of a DOCUMENT column answered from `.zmap` sidecar stats —
  * claimed only when EVERY planned file carries a trusted sidecar with
  * matching-tag stats for the column (see GraftScanBuilder.docStatRef),
  * so the answer is provably the scan's own. */
private[sources] case class AggMinDoc(col: String, dt: org.apache.spark.sql.types.DataType,
                                      tag: String) extends PushedAgg
private[sources] case class AggMaxDoc(col: String, dt: org.apache.spark.sql.types.DataType,
                                      tag: String) extends PushedAgg
/** COUNT(col) — the non-null count — from sidecar `rows - nulls` alone;
  * type-independent (null bookkeeping survives even where min/max
  * can't, e.g. decimals), but a stats-poisoned column loses its whole
  * entry, which correctly refuses the claim. */
private[sources] case class AggCountDoc(col: String) extends PushedAgg

private[sources] class GraftAggScan(options: CaseInsensitiveStringMap,
                                    files: Seq[GraftDocSource.FileRef],
                                    aggs: Seq[PushedAgg],
                                    partitionFilters: Array[Filter] = Array.empty,
                                    totalFiles: Int = 0,
                                    docStats: Map[String, ZoneMaps.FileStats] = Map.empty,
                                    groupBy: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty)
  extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(groupBy.map { case (c, dt) =>
      org.apache.spark.sql.types.StructField(c, dt, nullable = true)
    } ++ aggs.map {
      case AggCountStar => org.apache.spark.sql.types.StructField("count(*)",
        org.apache.spark.sql.types.LongType, nullable = false)
      case AggMinPart(c, dt) =>
        org.apache.spark.sql.types.StructField(s"min($c)", dt, nullable = true)
      case AggMaxPart(c, dt) =>
        org.apache.spark.sql.types.StructField(s"max($c)", dt, nullable = true)
      case AggMinDoc(c, dt, _) =>
        org.apache.spark.sql.types.StructField(s"min($c)", dt, nullable = true)
      case AggMaxDoc(c, dt, _) =>
        org.apache.spark.sql.types.StructField(s"max($c)", dt, nullable = true)
      case AggCountDoc(c) => org.apache.spark.sql.types.StructField(s"count($c)",
        org.apache.spark.sql.types.LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description(): String = {
    val rendered = aggs.map {
      case AggCountStar => "COUNT(*)"
      case AggMinPart(c, _) => s"MIN($c)"
      case AggMaxPart(c, _) => s"MAX($c)"
      case AggMinDoc(c, _, _) => s"MIN($c) zmap"
      case AggMaxDoc(c, _, _) => s"MAX($c) zmap"
      case AggCountDoc(c) => s"COUNT($c) zmap"
    }
    s"graftdocs PushedAggregation: [${rendered.mkString(", ")}]" +
      (if (groupBy.nonEmpty)
        s", PushedGroupBy: [${groupBy.map(_._1).mkString(", ")}]" else "") +
      (if (!needsCount) " (metadata-only)" else "") +
      (if (partitionFilters.nonEmpty)
        s", PartitionFilters: [${partitionFilters.mkString(", ")}]" +
          s", PartitionPruned: ${files.size}/$totalFiles"
       else "")
  }

  private val maxSplitBytes = options.getLong("maxsplitbytes", 128L * 1024 * 1024)
  private def needsCount: Boolean = aggs.contains(AggCountStar)

  override def planInputPartitions(): Array[InputPartition] =
    if (!needsCount)
      // pure partition-column min/max: directory values answer it, so
      // a partition carries a GROUP of files (one trivial task per 512
      // files, not per file — a million-file layout must not schedule a
      // million tasks) and each file costs only an O(1) emptiness probe
      // (an empty batch file's directory value is NOT a row and must
      // not leak into min/max)
      files.map(ref =>
        GraftFilePartition(ref.path, 0L, math.max(ref.length, 1L),
          ref.partitionValues))
        .grouped(512).map(g => GraftAggGroupPartition(g.toSeq))
        .toArray[InputPartition]
    else files.toArray.flatMap { ref =>
      if (ref.isBson || ref.length <= maxSplitBytes)
        Array(GraftFilePartition(ref.path, 0L, math.max(ref.length, 1L),
          ref.partitionValues))
      else (0L until ref.length by maxSplitBytes).map(s =>
        GraftFilePartition(ref.path, s, math.min(s + maxSplitBytes, ref.length),
          ref.partitionValues)).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(aggs,
      new SerializableConfiguration(GraftDocSource.activeHadoopConf()), docStats,
      groupBy)
}

/** A bundle of files whose aggregate answer comes from their metadata
  * alone — one task covers the whole group. */
private[sources] case class GraftAggGroupPartition(entries: Seq[GraftFilePartition])
  extends InputPartition

private[sources] class GraftAggReaderFactory(aggs: Seq[PushedAgg],
                                             conf: SerializableConfiguration,
                                             docStats: Map[String, ZoneMaps.FileStats]
                                               = Map.empty,
                                             groupBy: Seq[(String, org.apache.spark.sql.types.DataType)]
                                               = Seq.empty)
  extends PartitionReaderFactory {

  /** Typed (cast) grouping-key values of one file — group identity is
    * the CAST value, not the raw directory string, so layouts that
    * spell one value two ways ("1" vs "01") land in one group. */
  private def groupKey(partitionValues: Seq[(String, String)]): Seq[Any] = {
    val m = partitionValues.toMap
    groupBy.map { case (c, dt) =>
      m.get(c).map(DocPartitions.cast(_, dt)).orNull
    }
  }

  private def groupCatalyst(key: Seq[Any]): Seq[Any] =
    groupBy.zip(key).map { case ((_, dt), v) =>
      if (v == null) null
      else CatalystTypeConverters.createToCatalystConverter(dt)(v)
    }

  /** Sidecar min/max of one doc column for one file, as a canonical
    * value (None = file has no non-null value). pushAggregation proved
    * every planned file has matching-tag stats, so lookups can't miss. */
  private def docStat(path: String, c: String, wantMin: Boolean): Option[Any] = {
    val st = docStats(path).cols(c)
    Option(if (wantMin) st.min else st.max)
  }

  private def foldDocStats(paths: Seq[String], c: String, dt: org.apache.spark.sql.types.DataType,
                           tag: String, wantMin: Boolean): Any = {
    val vals = paths.flatMap(docStat(_, c, wantMin))
    if (vals.isEmpty) null
    else {
      val best = vals.reduce((a, b) =>
        if ((ZoneMaps.cmpCanon(tag, a, b) <= 0) == wantMin) a else b)
      ZoneMaps.toCatalyst(tag, best, dt)
    }
  }

  /** O(1) probe: does this file contain at least one document? (.bson: a
    * length prefix needs ≥5 bytes; .jsonl: any byte besides newlines —
    * the exact row criterion of JsonlRawLines.nextNonEmpty.) An empty batch
    * file's directory value is not a row and must not enter min/max. */
  private def hasDocs(p: GraftFilePartition): Boolean = {
    if (p.path.endsWith(".bson")) return p.end - p.start >= 5
    val path = new Path(p.path)
    val fsIn = path.getFileSystem(conf.value).open(path)
    try {
      val in = new java.io.BufferedInputStream(fsIn, 1 << 10)
      var b = in.read()
      while (b == '\n') b = in.read()
      b != -1
    } finally fsIn.close()
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case g: GraftAggGroupPartition => groupReader(g)
      case p: GraftFilePartition => splitReader(p)
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }

  /** Does a file hold at least one document? Sidecar row counts answer
    * for free when present (they're trusted — length-matched); a bare
    * part-column-only aggregate pays the O(1) byte probe instead. */
  private def isLive(e: GraftFilePartition): Boolean =
    docStats.get(e.path).map(_.rows > 0).getOrElse(hasDocs(e))

  /** Metadata-only min/max over a file group: fold the directory values
    * of the files that actually hold documents. With pushed GROUP BY,
    * the bundle splits into its distinct grouping-key values first and
    * emits one partial row per group that has any live file — an empty
    * batch file's directory value is not a row and must not conjure a
    * group into existence. */
  private def groupReader(g: GraftAggGroupPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private def foldRow(entries: Seq[GraftFilePartition],
                          live: Seq[GraftFilePartition],
                          keyCatalyst: Seq[Any]): InternalRow = {
        def fold(c: String, dt: org.apache.spark.sql.types.DataType,
                 wantMin: Boolean): Any = {
          val vals = live.flatMap(_.partitionValues.toMap.get(c))
            .map(DocPartitions.cast(_, dt)).filter(_ != null)
          if (vals.isEmpty) null
          else {
            val best = vals.reduce((a, b) =>
              DocFilterEval.cmp(a, b) match {
                case Some(ord) => if ((ord <= 0) == wantMin) a else b
                case None => a
              })
            CatalystTypeConverters.createToCatalystConverter(dt)(best)
          }
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          (keyCatalyst ++ aggs.map {
            case AggCountStar => throw new IllegalStateException(
              "COUNT(*) takes the split path")
            case AggMinPart(c, dt) => fold(c, dt, wantMin = true)
            case AggMaxPart(c, dt) => fold(c, dt, wantMin = false)
            case AggMinDoc(c, dt, tag) =>
              foldDocStats(entries.map(_.path), c, dt, tag, wantMin = true)
            case AggMaxDoc(c, dt, tag) =>
              foldDocStats(entries.map(_.path), c, dt, tag, wantMin = false)
            case AggCountDoc(c) => (entries.map { e =>
                val st = docStats(e.path)
                st.rows - st.cols(c).nulls
              }.sum): Any
          }).toArray)
      }
      private val rows: Iterator[InternalRow] =
        if (groupBy.isEmpty)
          Iterator(foldRow(g.entries, g.entries.filter(isLive), Seq.empty))
        else g.entries.groupBy(e => groupKey(e.partitionValues))
          .iterator.flatMap { case (key, entries) =>
            // ONE liveness pass per group: it both admits the group and
            // feeds the part-column fold (probing twice would double
            // the per-file I/O when no sidecar stats exist)
            val live = entries.filter(isLive)
            if (live.isEmpty) Iterator.empty
            else Iterator(foldRow(entries, live, groupCatalyst(key)))
          }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { row = rows.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }

  private def splitReader(p: GraftFilePartition): PartitionReader[InternalRow] = {
    val pm = p.partitionValues.toMap
    new PartitionReader[InternalRow] {
      private var emitted = false
      private var row: InternalRow = _
      private def partValue(c: String, dt: org.apache.spark.sql.types.DataType): Any =
        pm.get(c).map { raw =>
          CatalystTypeConverters.createToCatalystConverter(dt)(
            DocPartitions.cast(raw, dt))
        }.orNull
      override def next(): Boolean = {
        if (emitted) return false
        val count: Long = {
          val path = new Path(p.path)
          val fsIn = path.getFileSystem(conf.value).open(path)
          try {
            if (p.path.endsWith(".bson")) countBson(fsIn)
            else {
              // the scan's own row set: every non-empty owned line
              val lines = new JsonlRawLines(fsIn, p.start, p.end)
              var n = 0L
              while (lines.nextNonEmpty() >= 0) n += 1
              n
            }
          } finally fsIn.close()
        }
        // With pushed GROUP BY, a zero-row split must usually emit
        // NOTHING (a partial row would conjure the group into
        // existence) — UNLESS this is the first split of a file that
        // HAS rows and carries file-level sidecar stats: those ride
        // the first split only, and a jsonl file can open on a run of
        // blank lines that leaves split 0 with zero documents.
        val carriesFileStats = p.start == 0L &&
          docStats.contains(p.path) && docStats(p.path).rows > 0 &&
          aggs.exists {
            case _: AggMinDoc | _: AggMaxDoc | _: AggCountDoc => true
            case _ => false
          }
        if (groupBy.nonEmpty && count == 0 && !carriesFileStats) {
          emitted = true
          return false
        }
        row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          (groupCatalyst(groupKey(p.partitionValues)) ++ aggs.map {
            case AggCountStar => count: Any
            // a zero-row split must not leak its directory value
            case AggMinPart(c, dt) => if (count == 0) null else partValue(c, dt)
            case AggMaxPart(c, dt) => if (count == 0) null else partValue(c, dt)
            // file-level stats: byte-range splits of one file each emit
            // the same sidecar value — min/max folding is idempotent
            case AggMinDoc(c, dt, tag) =>
              foldDocStats(Seq(p.path), c, dt, tag, wantMin = true)
            case AggMaxDoc(c, dt, tag) =>
              foldDocStats(Seq(p.path), c, dt, tag, wantMin = false)
            // additive: the file total rides the FIRST split only
            case AggCountDoc(c) =>
              (if (p.start == 0L) {
                val st = docStats(p.path); st.rows - st.cols(c).nulls
              } else 0L): Any
          }).toArray)
        emitted = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  /** Count concatenated BSON documents by hopping length prefixes. */
  private def countBson(fsIn: org.apache.hadoop.fs.FSDataInputStream): Long = {
    val in = new java.io.BufferedInputStream(fsIn, 1 << 16)
    var n = 0L
    var done = false
    while (!done) {
      val b0 = in.read()
      if (b0 < 0) done = true
      else {
        val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
        if (b3 < 0) throw new java.io.EOFException("truncated BSON length prefix")
        val len = b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
        if (len < 5 || len > graft.bson.BsonBinary.MaxDocBytes)
          throw new graft.bson.GraftTypeError(s"invalid BSON document length $len")
        var toSkip = (len - 4).toLong
        while (toSkip > 0) {
          val s = in.skip(toSkip)
          if (s <= 0) {
            if (in.read() < 0) throw new java.io.EOFException("truncated BSON document")
            toSkip -= 1
          } else toSkip -= s
        }
        n += 1
      }
    }
    n
  }
}

private[sources] class GraftScan(schema: StructType, options: CaseInsensitiveStringMap,
                                 filters: Array[Filter],
                                 limit: Option[Int] = None,
                                 resolved: Option[Seq[GraftDocSource.FileRef]] = None,
                                 partitionFilters: Array[Filter] = Array.empty,
                                 totalFiles: Int = 0,
                                 // declared types of the partition columns, from the FULL
                                 // schema (a fully-handled filter's column may be pruned
                                 // out of `schema` when the query never projects it)
                                 partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  // A KeyGrouped partition is CONSTANT in its partition key (every row of
  // the group shares the directory value), so each partition is trivially
  // sorted by the key in any direction — reporting that ordering lets
  // Spark drop the per-partition Sort under a storage-partitioned
  // sort-merge join (requires spark.sql.sources.v2.bucketing.sorting
  // .enabled). Sound by construction: a constant sequence satisfies any
  // monotone order on the constant.
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spjKeys.map { case (c, _) =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }.toArray

  // ---- storage-partitioned joins -------------------------------------------
  // A hive-partitioned layout reports KeyGroupedPartitioning over its
  // partition columns: two doc tables partitioned on the same key join
  // EXCHANGE-FREE (Spark's storage-partitioned join groups splits by
  // partitionKey() and aligns both sides) — the doc-source twin of the
  // bucketed-layout story in api/Layout, with the partitioning coming
  // from the directory structure instead of a catalog. At 100 TB this
  // removes the fact⋈fact shuffle entirely for co-partitioned corpora.
  // Claimed only when EVERY planned file carries a parseable value for
  // every partition column (a mixed/flat layout reports unknown), and
  // only under spark.sql.sources.v2.bucketing.enabled: once a scan
  // reports keyed partitioning, Spark preserves the key groups through
  // runtime filtering — which would neutralize this source's dynamic
  // partition pruning in sessions that never join co-partitioned
  // tables. The conf is the user's explicit trade (same as parquet
  // bucketed tables: co-partitioning in, DPP partition-drop out).
  private lazy val spjKeys: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    if (!options.getBoolean("spj", true) ||
        !org.apache.spark.sql.internal.SQLConf.get.getConf(
          org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED)
          .asInstanceOf[Boolean]) Seq.empty
    else {
      val files = zoneStatic
      try {
        val cols = DocPartitions.partitionCols(files) // throws on mixed layouts
        val ok = files.nonEmpty && cols.nonEmpty &&
          cols.forall(partitionTypes.contains) &&
          files.forall(f => cols.forall(c =>
            f.partitionValues.collectFirst { case (`c`, raw) =>
              DocPartitions.cast(raw, partitionTypes(c)) }.isDefined))
        if (ok) cols.map(c => c -> partitionTypes(c)) else Seq.empty
      } catch { case _: Exception => Seq.empty } // unknown partitioning, not an error
    }
  }

  private def keyValsOf(ref: GraftDocSource.FileRef): Array[Any] =
    if (spjKeys.isEmpty) null
    else {
      val m = ref.partitionValues.toMap
      spjKeys.map { case (c, dt) =>
        CatalystTypeConverters.createToCatalystConverter(dt)(
          DocPartitions.cast(m(c), dt))
      }.toArray
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjKeys.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      spjKeys.map { case (c, _) =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression
      }.toArray,
      zoneStatic.map(_.partitionValues.toMap.filter(kv => spjKeys.exists(_._1 == kv._1)))
        .distinct.size)
  override def description(): String = {
    // the MQL wire form of the pushed predicates — what a live-source
    // connector would hand to find() verbatim (reference api.py:175);
    // surfaced in explain so pushdown translation is plan-auditable
    val (mqlDoc, residual) = graft.mql.FilterTranslator.translateAll(filters.toSeq)
    s"graftdocs PushedFilters: [${filters.mkString(", ")}], " +
      s"PushedMqlFilter: ${graft.mql.FilterTranslator.render(mqlDoc)}" +
      (if (residual.nonEmpty) s", ResidualFilters: [${residual.mkString(", ")}]" else "") +
      limit.map(n => s", PushedLimit: $n").getOrElse("") +
      (if (partitionFilters.nonEmpty)
        s", PartitionFilters: [${partitionFilters.mkString(", ")}]" +
          s", PartitionPruned: ${resolved.map(_.size).getOrElse(0)}/$totalFiles"
       else "") +
      (if (zoneMapsEnabled && filters.nonEmpty && resolved.nonEmpty)
        s", ZoneMapPruned: ${zoneStatic.size}/${resolved.map(_.size).getOrElse(0)}"
       else "")
  }

  // ---- zone-map data skipping ----------------------------------------------
  // Pushed doc-field filters consult each file's `.zmap` sidecar (written
  // by the batch writer: per-column min/max/nulls) and drop the files
  // whose predicate is provably false for EVERY row — parquet row-group
  // skipping, doc-source form. On a sorted/clustered 100 TB layout a
  // range query opens only the files whose range intersects. Verdicts
  // are sound-by-construction (see ZoneMaps); a missing or stale sidecar
  // keeps the file, and the filters stay residual post-scan either way.
  private val zoneMapsEnabled = options.getBoolean("zonemaps", true)

  // Stats are only trustworthy for a column whose DECLARED read type has
  // the same tag the writer recorded: cross-tag reads go through the
  // coercion matrix (double→int truncation, allowInvalid nulling), so a
  // write-time min/max can prove nothing about post-coercion values —
  // a 2.7 written double reads as 2 under an int schema, and a skip
  // based on min=2.7 would silently drop that row. Decimals are dropped
  // even on tag match: the read-side DecimalType clamp nulls values the
  // write-side null bookkeeping never saw (IsNull pruning would lie).
  // Residual doc filters always reference read-schema columns (Spark
  // keeps the post-scan Filter, so its inputs survive column pruning).
  private lazy val trustedTag: Map[String, String] =
    schema.fields.flatMap(f =>
      ZoneMaps.tagOf(f.dataType).filter(_ != "dec").map(f.name -> _)).toMap

  // one sidecar read per file per scan — zoneStatic, the runtime-filter
  // re-prune, and explain all share it (object stores make the driver
  // pay real latency per metadata round-trip)
  private val zmapCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[ZoneMaps.FileStats]]

  private def loadZmap(fs: org.apache.hadoop.fs.FileSystem,
                       ref: GraftDocSource.FileRef): Option[ZoneMaps.FileStats] =
    zmapCache.getOrElseUpdate(ref.path, ZoneMaps.load(fs, ref.path, ref.length))

  private def zonePrune(files: Seq[GraftDocSource.FileRef])
      : Seq[GraftDocSource.FileRef] =
    if (!zoneMapsEnabled || filters.isEmpty || files.isEmpty) files
    else {
      val fs = new Path(files.head.path)
        .getFileSystem(GraftDocSource.activeHadoopConf())
      files.filter { ref =>
        loadZmap(fs, ref) match {
          case Some(st) =>
            val trusted = st.cols.filter { case (name, cs) =>
              trustedTag.get(name).contains(cs.tag) }
            filters.forall(f => ZoneMaps.mayMatch(f, trusted))
          case None => true
        }
      }
    }

  /** Zone-pruned static file list (no runtime filters); shared by
    * planInputPartitions and the explain description. */
  private lazy val zoneStatic: Seq[GraftDocSource.FileRef] =
    zonePrune(resolved.getOrElse(GraftDocSource.resolveFiles(options)))

  // ---- runtime (dynamic) partition pruning --------------------------------
  // The DSv2 runtime-filtering hook: joining this table against a
  // filtered dimension on a partition column lets Spark push the build
  // side's value set back into the scan AT EXECUTION TIME — the
  // document-source twin of parquet's dynamic partition pruning. The
  // verdict here is CONSERVATIVE (a file is dropped only when the
  // runtime filter is provably false for its constant partition values;
  // unknown keeps it) because Spark still applies the join itself —
  // unlike the planning-time pruner, correctness never depends on the
  // runtime drop.
  private var runtimeFiltered: Option[Seq[GraftDocSource.FileRef]] = None

  // Only partition columns that SURVIVE in the scan output: Spark's
  // PartitionPruning resolves these refs against the scan's (column-
  // pruned) output and throws on a miss — a query that filters on the
  // partition column but never projects it would fail ANALYSIS, not
  // just skip the optimization. Nothing is lost by the intersection: a
  // runtime filter's key is a join key, and a join key is always in
  // the output.
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partitionTypes.keys.filter(schema.fieldNames.contains).map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(runtimeFilters: Array[Filter]): Unit = {
    val base = resolved.getOrElse(GraftDocSource.resolveFiles(options))
    runtimeFiltered = Some(base.filter { f =>
      val m = f.partitionValues.toMap
      val get: String => Any = name =>
        (for { raw <- m.get(name); dt <- partitionTypes.get(name) }
          yield DocPartitions.cast(raw, dt)).orNull
      !runtimeFilters.exists { rf =>
        try DocPartitions.eval3(rf, get).contains(false)
        catch { case _: Exception => false } // unparseable dir value: keep
      }
    })
  }

  /** Re-apply this scan's partition filters to a fresh file listing (the
    * micro-batch stream re-lists per batch and must prune identically). */
  private[sources] def pruneByPartition(files: Seq[GraftDocSource.FileRef])
      : Seq[GraftDocSource.FileRef] =
    if (partitionFilters.isEmpty) files
    else files.filter { f =>
      val m = f.partitionValues.toMap
      val get: String => Any = name =>
        (for { raw <- m.get(name); dt <- partitionTypes.get(name) }
          yield DocPartitions.cast(raw, dt)).orNull
      partitionFilters.forall(pf => DocPartitions.eval3(pf, get).contains(true))
    }

  private val allowInvalid = options.getBoolean("allowinvalid", false)

  // Large .jsonl files split into newline-aligned byte ranges (0x0A
  // never occurs inside a UTF-8 multibyte sequence): a split owns every
  // line whose FIRST byte lies in [start, end). One 100 GB file is ~800
  // tasks, not one. .bson files read whole (no sync marker to align on).
  private val maxSplitBytes = {
    val v = options.getLong("maxsplitbytes", 128L * 1024 * 1024)
    if (v <= 0) throw new IllegalArgumentException(
      s"graftdocs: maxSplitBytes must be positive, got $v")
    v
  }

  private[sources] def splitFiles(files: Seq[GraftDocSource.FileRef])
      : Array[InputPartition] =
    files.toArray.flatMap { ref =>
      // byte-range splits of one file share its partition key — Spark's
      // SPJ grouping folds them back into one key group
      val kv = keyValsOf(ref)
      if (ref.isBson || ref.length <= maxSplitBytes)
        Array(GraftFilePartition(ref.path, 0L, math.max(ref.length, 1L),
          ref.partitionValues, kv))
      else (0L until ref.length by maxSplitBytes).map(s =>
        GraftFilePartition(ref.path, s, math.min(s + maxSplitBytes, ref.length),
          ref.partitionValues, kv)).toArray
    }

  override def planInputPartitions(): Array[InputPartition] =
    splitFiles(runtimeFiltered.map(zonePrune).getOrElse(zoneStatic))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(schema, allowInvalid, filters,
      new SerializableConfiguration(GraftDocSource.activeHadoopConf()),
      // `columnar=false` keeps the row path selectable for A/B; it also
      // serves any type the direct writers don't cover
      columnar = options.getBoolean("columnar", true),
      limit = limit)

  // continuous document ingest: the streaming twin of the reference's
  // cursor loop — tail the batch directory, each micro-batch decoding
  // the files that arrived since the last watermark
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(this, options)
}

/** Micro-batch tail of a document-batch directory. Offsets are a
  * COMPACT (mtime, name) watermark — a file is "new" when its
  * (modification time, name) pair sorts strictly after the watermark —
  * so the offset stays O(1) no matter how many batch files accumulate
  * (a consumed-file-set offset would grow without bound at 100 TB).
  * The commit protocol makes this safe here: the batch writer stages
  * hidden dot-files and renames them visible at job commit, so a
  * visible file's mtime is its PUBLICATION time — files cannot appear
  * with an mtime behind an already-advanced watermark (the classic
  * mtime-tailing hazard) unless an external writer bypasses the sink,
  * which is out of contract. */
private[sources] class GraftMicroBatchStream(scan: GraftScan,
                                             options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private case class Watermark(mtime: Long, name: String) extends Offset {
    override def json(): String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = m.createObjectNode()
      n.put("mtime", mtime); n.put("name", name)
      m.writeValueAsString(n)
    }
  }

  private def isAfter(f: GraftDocSource.FileRef, w: Watermark): Boolean =
    f.mtime > w.mtime || (f.mtime == w.mtime && f.name > w.name)
  private implicit class RefName(f: GraftDocSource.FileRef) {
    def name: String = new Path(f.path).getName
  }

  override def initialOffset(): Offset = Watermark(-1L, "")

  override def latestOffset(): Offset = {
    val files = GraftDocSource.resolveFiles(options)
    if (files.isEmpty) Watermark(-1L, "")
    else {
      val top = files.maxBy(f => (f.mtime, f.name))
      Watermark(top.mtime, top.name)
    }
  }

  // ---- admission control ----------------------------------------------------
  // `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each micro-batch: a
  // backfill over an existing 100 TB layout becomes a paced sequence of
  // bounded batches instead of ONE batch owning the whole corpus (the
  // all-available default's failure mode: a first trigger whose state,
  // shuffle, and checkpoint all scale with history, not with arrival
  // rate). The watermark offset supports it naturally — admit the next N
  // files in (mtime, name) order and park the watermark on the last one.
  override def getDefaultReadLimit: ReadLimit = {
    val mf = options.getInt("maxfilespertrigger", 0)
    val mb = options.getLong("maxbytespertrigger", 0L)
    if (mf < 0 || mb < 0) throw new IllegalArgumentException(
      s"graftdocs: maxFilesPerTrigger/maxBytesPerTrigger must be positive")
    (mf, mb) match {
      case (0, 0) => ReadLimit.allAvailable()
      case (f, 0) => ReadLimit.maxFiles(f)
      case (0, b) => ReadLimit.maxBytes(b)
      case (f, b) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[Watermark]
    // partition-pruned files never reach the batch, so they must not
    // consume the trigger's admission budget either (an all-pruned
    // prefix would otherwise produce empty paced batches); the
    // watermark still advances past them via the admitted files around
    // them, and a re-listed pruned file below the watermark just stays
    // excluded
    val fresh = scan.pruneByPartition(GraftDocSource.resolveFiles(options))
      .filter(isAfter(_, s))
      .sortBy(f => (f.mtime, f.name))
    def admit(l: ReadLimit, fs: Seq[GraftDocSource.FileRef]): Seq[GraftDocSource.FileRef] =
      l match {
        case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
          fs.take(m.maxFiles())
        case m: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
          // contiguous (mtime, name)-ordered prefix within the byte
          // budget; the first file is always admitted (an oversized
          // single file must still drain) and admission stops at the
          // first file over budget (a gap would break the watermark)
          val contiguous = scala.collection.mutable.ArrayBuffer.empty[GraftDocSource.FileRef]
          var bleft = m.maxBytes()
          var done = false
          val it = fs.iterator
          while (it.hasNext && !done) {
            val f = it.next()
            if (contiguous.isEmpty || f.length <= bleft) { contiguous += f; bleft -= f.length }
            else done = true
          }
          contiguous.toSeq
        case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
          c.getReadLimits.foldLeft(fs)((acc, sub) => admit(sub, acc))
        case _ => fs // allAvailable
      }
    val taken = admit(limit, fresh)
    if (taken.isEmpty) s
    else { val top = taken.last; Watermark(top.mtime, top.name) }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Watermark(n.get("mtime").asLong, n.get("name").asText)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[Watermark]
    val e = end.asInstanceOf[Watermark]
    val files = scan.pruneByPartition(GraftDocSource.resolveFiles(options)
      .filter(f => isAfter(f, s) && !isAfter(f, e)))
    scan.splitFiles(files)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class GraftFilePartition(path: String, start: Long, end: Long,
                                               partitionValues: Seq[(String, String)] = Seq.empty,
                                               keyVals: Array[Any] = null)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Catalyst partition-key row for storage-partitioned joins; set only
    * when the scan reports KeyGroupedPartitioning (Spark consults
    * partitionKey() only in that mode, and runtime filtering preserves
    * it because the VALUES ride the partition, not the file list). */
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyVals)
}

/** Evaluates pushed source filters against decoded (pre-Catalyst) row
  * values. Conservative: anything it can't prove unmatched keeps the
  * row — Catalyst re-evaluates every filter post-scan. */
private[sources] object DocFilterEval {
  import org.apache.spark.sql.sources._

  def supported(f: Filter, schema: StructType): Boolean = {
    def topLevel(a: String): Boolean =
      !a.contains(".") && schema.fieldNames.contains(a)
    f match {
      case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual | _: IsNull | _: IsNotNull |
           _: In =>
        f.references.length == 1 && topLevel(f.references.head)
      case And(l, r) => supported(l, schema) && supported(r, schema)
      case Or(l, r)  => supported(l, schema) && supported(r, schema)
      // Not is NOT supported: eval keeps rows it can't decide, and a
      // negation would turn that conservative keep into a wrong drop
      case _ => false
    }
  }

  private def toBD(n: java.lang.Number): java.math.BigDecimal = n match {
    case d: java.math.BigDecimal => d
    case i: java.math.BigInteger => new java.math.BigDecimal(i)
    case o => new java.math.BigDecimal(o.toString)
  }

  /** Some(ordering) when both sides are comparable same-kind values. */
  private[sources] def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: java.lang.Number, y: java.lang.Number) =>
      (x, y) match {
        // exact decimal path first: longValue() would truncate fractions
        // and WRONGLY DROP rows (unrecoverable post-scan)
        case (_: java.math.BigDecimal, _) | (_, _: java.math.BigDecimal) |
             (_: java.math.BigInteger, _) | (_, _: java.math.BigInteger) =>
          Some(toBD(x).compareTo(toBD(y)))
        case (_: java.lang.Double, _) | (_, _: java.lang.Double) |
             (_: java.lang.Float, _) | (_, _: java.lang.Float) =>
          Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
        case _ => Some(java.lang.Long.compare(x.longValue(), y.longValue()))
      }
    case (x: String, y: String) => // Spark's binary UTF8String order, not
      // UTF-16 code-unit order (they diverge on supplementary planes)
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    // date/time values arrive in BOTH representations: decoded rows and
    // DocPartitions.cast produce java.sql types, while Catalyst hands
    // source filters java.time literals under
    // spark.sql.datetime.java8API.enabled — cross-compare on the common
    // epoch form or a date filter silently stops matching (and the
    // partition pruner, which treats unknown as drop, loses EVERY file)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) => Some(x.compareTo(y))
    case (x: java.time.Instant, y: java.time.Instant) => Some(x.compareTo(y))
    case (x: java.time.LocalDate, y: java.time.LocalDate) => Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.time.LocalDate) =>
      Some(x.toLocalDate.compareTo(y))
    case (x: java.time.LocalDate, y: java.sql.Date) =>
      Some(x.compareTo(y.toLocalDate))
    case (x: java.sql.Timestamp, y: java.time.Instant) =>
      Some(x.toInstant.compareTo(y))
    case (x: java.time.Instant, y: java.sql.Timestamp) =>
      Some(x.compareTo(y.toInstant))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** false ONLY when the row provably fails the filter. */
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(a, v)            => cmp(get(a), v).forall(_ == 0)
    case GreaterThan(a, v)        => cmp(get(a), v).forall(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).forall(_ >= 0)
    case LessThan(a, v)           => cmp(get(a), v).forall(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(get(a), v).forall(_ <= 0)
    case IsNull(a)    => get(a) == null
    case IsNotNull(a) => get(a) != null
    case In(a, vs)    => get(a) == null || vs.exists(v => cmp(get(a), v).forall(_ == 0))
    case And(l, r)    => eval(l, get) && eval(r, get)
    case Or(l, r)     => eval(l, get) || eval(r, get)
    case _ => true // unknown shape: keep, Catalyst decides
  }
}

/** Partition-column machinery for the hive-style `k=v` directory layout
  * (the document-source analogue of parquet partition pruning: at 100 TB
  * a date/tenant-partitioned corpus answers a partition-filtered query by
  * LISTING, never opening, the excluded directories).
  *
  * Pruning uses exact SQL three-valued semantics — a file is kept only
  * when its constant partition values make the predicate TRUE (unknown
  * drops the file, because a row whose predicate is null is filtered
  * out) — which is what lets the scan claim partition filters as FULLY
  * handled instead of leaving them residual. */
private[sources] object DocPartitions {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  /** The (ordered) partition columns of a resolved file list; every file
    * must agree on the key sequence or the layout is malformed. */
  def partitionCols(files: Seq[GraftDocSource.FileRef]): Seq[String] = {
    val keySeqs = files.map(_.partitionValues.map(_._1)).distinct
    keySeqs match {
      case Seq() => Seq.empty
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        "graftdocs: inconsistent partition layout across files: " +
          many.take(3).map(_.mkString("/")).mkString(", "))
    }
  }

  /** Partition-column types the directory string can round-trip. */
  def castable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         DoubleType | FloatType | BooleanType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Directory string → EXTERNAL JVM value of the declared type (null for
    * the hive null marker). Throws on an unparseable value — a declared
    * schema that disagrees with the on-disk layout is an error, not a
    * silent null. */
  def cast(raw: String, dt: DataType): Any =
    if (raw == GraftDocSource.NullPartitionValue) null
    else dt match {
      case StringType  => raw
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case ShortType   => raw.toShort
      case ByteType    => raw.toByte
      case DoubleType  => raw.toDouble
      case FloatType   => raw.toFloat
      case BooleanType => raw.toBoolean
      case DateType    => java.sql.Date.valueOf(raw)
      case d: DecimalType =>
        val bd = new java.math.BigDecimal(raw)
        if (bd.precision - bd.scale > d.precision - d.scale)
          throw new IllegalArgumentException(s"decimal $raw overflows ${d.simpleString}")
        bd.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
      case other => throw new IllegalArgumentException(
        s"graftdocs: unsupported partition column type ${other.simpleString}")
    }

  /** EXTERNAL value → directory string (inverse of [[cast]]). */
  def render(v: Any): String = v match {
    case null => GraftDocSource.NullPartitionValue
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString // Date.toString = yyyy-mm-dd = Date.valueOf's parse
  }

  /** Filter shapes whose per-file verdict [[eval3]] decides exactly. */
  def exactShape(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith | _: StringEndsWith | _: StringContains => true
    case And(l, r) => exactShape(l) && exactShape(r)
    case Or(l, r)  => exactShape(l) && exactShape(r)
    case Not(c)    => exactShape(c)
    case _ => false
  }

  /** SQL three-valued predicate verdict over constant partition values:
    * Some(true)=every row of the file matches, Some(false)/None=no row
    * does (a null verdict filters the row out). */
  def eval3(f: Filter, get: String => Any): Option[Boolean] = f match {
    case EqualTo(a, v)            => DocFilterEval.cmp(get(a), v).map(_ == 0)
    case EqualNullSafe(a, v) =>
      val x = get(a)
      if (x == null || v == null) Some(x == null && v == null)
      else Some(DocFilterEval.cmp(x, v).contains(0))
    case GreaterThan(a, v)        => DocFilterEval.cmp(get(a), v).map(_ > 0)
    case GreaterThanOrEqual(a, v) => DocFilterEval.cmp(get(a), v).map(_ >= 0)
    case LessThan(a, v)           => DocFilterEval.cmp(get(a), v).map(_ < 0)
    case LessThanOrEqual(a, v)    => DocFilterEval.cmp(get(a), v).map(_ <= 0)
    case IsNull(a)    => Some(get(a) == null)
    case IsNotNull(a) => Some(get(a) != null)
    case In(a, vs) =>
      val x = get(a)
      if (x == null) None
      else if (vs.exists(v => v != null && DocFilterEval.cmp(x, v).contains(0))) Some(true)
      else if (vs.contains(null)) None
      else Some(false)
    case StringStartsWith(a, p) =>
      Option(get(a)).collect { case s: String => s.startsWith(p) }
    case StringEndsWith(a, p) =>
      Option(get(a)).collect { case s: String => s.endsWith(p) }
    case StringContains(a, p) =>
      Option(get(a)).collect { case s: String => s.contains(p) }
    case And(l, r) => (eval3(l, get), eval3(r, get)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval3(l, get), eval3(r, get)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => eval3(c, get).map(!_)
    case _ => None
  }
}

/** Test-visible decode counters (rows emitted vs rows skipped by
  * decode-time filters). */
private[sources] object GraftScanMetrics {
  val emitted = new java.util.concurrent.atomic.LongAdder
  val skipped = new java.util.concurrent.atomic.LongAdder
  /** Documents decoded by the DIRECT bytes→vector BSON path (no
    * JsonNode tree) — lets specs assert which decode path engaged. */
  val direct = new java.util.concurrent.atomic.LongAdder
}

private[sources] class GraftReaderFactory(schema: StructType, allowInvalid: Boolean,
                                          filters: Array[Filter],
                                          conf: SerializableConfiguration,
                                          columnar: Boolean = true,
                                          limit: Option[Int] = None)
  extends PartitionReaderFactory {
  private val perPartitionLimit: Int = limit.getOrElse(Int.MaxValue)

  /** Per-partition split of the output schema into document-decoded
    * fields and partition-filled constants (hive layout: partition
    * columns live in the directory name, not the documents; when a doc
    * field shares a partition column's name the directory value wins —
    * parquet's partition-column semantics). Returns (docSchema, out
    * index → doc column index or -1, external constant per out index). */
  private def fillPlan(p: GraftFilePartition): (StructType, Array[Int], Array[Any]) = {
    val pm = p.partitionValues.toMap
    val docFields = schema.fields.filterNot(f => pm.contains(f.name))
    val docPos = docFields.map(_.name).zipWithIndex.toMap
    val docIdx = schema.fields.map(f => docPos.getOrElse(f.name, -1))
    val consts: Array[Any] = schema.fields.map { f =>
      if (docPos.contains(f.name)) null
      else DocPartitions.cast(pm(f.name), f.dataType)
    }
    (StructType(docFields), docIdx, consts)
  }

  // ---- vectorized path -----------------------------------------------------
  // The Spark twin of the reference's columnar builders (lib.pyx:436-870):
  // one pass over the document stream appending straight into per-column
  // vectors — .bson streams bytes and .jsonl streams Jackson tokens
  // through the direct writers (the reference's process_bson_stream /
  // single-pass builder walk), no JsonNode tree, no per-row Row. Pushed
  // filters evaluate per row against the freshly decoded vectors
  // (decode-before-filter, the row path's error-parity contract) and
  // surviving rows compact into the output batch; Spark re-evaluates
  // pushed filters post-scan either way. Declared types without a
  // direct writer take the row path.
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val pm = partition.asInstanceOf[GraftFilePartition].partitionValues.toMap
    columnar && schema.fields.forall(f =>
      if (pm.contains(f.name)) DocPartitions.castable(f.dataType)
      else graft.bson.BsonVectorDecoder.supports(f.dataType))
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val strict = !allowInvalid
    val (docSchema, docIdx, consts) = fillPlan(p)
    val partExternal: Map[String, Any] = schema.fields.zipWithIndex.collect {
      case (f, i) if docIdx(i) < 0 => f.name -> consts(i)
    }.toMap
    val path = new Path(p.path)
    val fsIn = path.getFileSystem(conf.value).open(path)
    val inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      if (p.path.endsWith(".bson"))
        new BsonColumnarReader(fsIn, docSchema, strict, perPartitionLimit,
          filters, partExternal)
      else new JsonlColumnarReader(fsIn, p.start, p.end, docSchema, strict,
        perPartitionLimit, filters, partExternal)
    if (docIdx.forall(_ >= 0)) inner
    else new PartitionFilledBatchReader(inner, schema, docIdx, consts)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val strict = !allowInvalid
    val (docSchema, docIdx, consts) = fillPlan(p)
    val hasPart = docIdx.exists(_ < 0)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(docSchema)
    // partition constants pre-converted to Catalyst form once per split
    val constCatalyst: Array[Any] = schema.fields.zipWithIndex.map { case (f, i) =>
      if (docIdx(i) >= 0) null
      else CatalystTypeConverters.createToCatalystConverter(f.dataType)(consts(i))
    }
    val fieldIdx: Map[String, Int] = docSchema.fieldNames.zipWithIndex.toMap
    val partExternal: Map[String, Any] = schema.fields.zipWithIndex.collect {
      case (f, i) if docIdx(i) < 0 => f.name -> consts(i)
    }.toMap
    // both formats yield canonical ext-JSON nodes, so decode is
    // format-independent; construction seeks/reads — close the handle if
    // it throws (the reader's close() never runs then)
    val path = new Path(p.path)
    val fsIn = path.getFileSystem(conf.value).open(path)
    val docs =
      try {
        if (p.path.endsWith(".bson")) BsonBinary.documents(fsIn)
        else new JsonlLineIterator(fsIn, p.start, p.end)
      } catch {
        case e: Throwable => fsIn.close(); throw e
      }

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var emitted = 0
      override def next(): Boolean = {
        if (emitted >= perPartitionLimit) return false // pushed LIMIT
        while (docs.hasNext) {
          val node = docs.next()
          val row = DocDecoder.decodeStruct(node, docSchema, strict)
          def get(name: String): Any =
            fieldIdx.get(name).map(row.get).getOrElse(partExternal.getOrElse(name, null))
          if (filters.forall(DocFilterEval.eval(_, get))) {
            val inner = toCatalyst(row).asInstanceOf[InternalRow]
            current =
              if (!hasPart) inner
              else {
                val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  schema.length)
                var i = 0
                while (i < schema.length) {
                  out.update(i,
                    if (docIdx(i) >= 0) inner.get(docIdx(i), schema.fields(i).dataType)
                    else constCatalyst(i))
                  i += 1
                }
                out
              }
            GraftScanMetrics.emitted.increment()
            emitted += 1
            return true
          } else GraftScanMetrics.skipped.increment()
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = fsIn.close()
    }
  }
}

/** Read-back and row-copy helpers for evaluating pushed filters against
  * freshly decoded column vectors (the direct BSON path's filter step).
  * Both operate through `SpecializedGetters` (`ColumnarBatch.getRow`
  * hands one out per row), so one recursive implementation covers
  * top-level columns, struct fields, and array elements alike. */
private[sources] object VectorRead {
  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  import org.apache.spark.sql.execution.vectorized.WritableColumnVector
  import org.apache.spark.sql.catalyst.util.DateTimeUtils
  import org.apache.spark.sql.types._

  /** Non-null sentinel for types DocFilterEval.cmp can't order: keeps
    * IsNull/IsNotNull exact while making every ordered comparison
    * undecidable (cmp → None) → the row is conservatively kept and
    * Catalyst's post-scan filter decides. */
  private object Opaque

  /** (row, ordinal) → external JVM value in the exact class
    * DocDecoder.convert produces for `dt` — the forms DocFilterEval.cmp
    * dispatches on (the row path's filter contract). */
  def external(dt: DataType): (SpecializedGetters, Int) => Any = dt match {
    case IntegerType => (g, o) => if (g.isNullAt(o)) null else Int.box(g.getInt(o))
    case LongType    => (g, o) => if (g.isNullAt(o)) null else Long.box(g.getLong(o))
    case DoubleType  => (g, o) => if (g.isNullAt(o)) null else Double.box(g.getDouble(o))
    case BooleanType => (g, o) => if (g.isNullAt(o)) null else Boolean.box(g.getBoolean(o))
    case StringType  => (g, o) => if (g.isNullAt(o)) null else g.getUTF8String(o).toString
    case TimestampType => (g, o) =>
      if (g.isNullAt(o)) null else DateTimeUtils.toJavaTimestamp(g.getLong(o))
    case TimestampNTZType => (g, o) =>
      if (g.isNullAt(o)) null else DateTimeUtils.microsToLocalDateTime(g.getLong(o))
    case DateType => (g, o) =>
      if (g.isNullAt(o)) null else DateTimeUtils.toJavaDate(g.getInt(o))
    case d: DecimalType => (g, o) =>
      if (g.isNullAt(o)) null else g.getDecimal(o, d.precision, d.scale).toJavaBigDecimal
    case BinaryType => (g, o) => if (g.isNullAt(o)) null else g.getBinary(o)
    case NullType   => (_, _) => null
    case _ => (g, o) => if (g.isNullAt(o)) null else Opaque
  }

  /** (row, ordinal, dst) appender copying one value from a decoded row
    * into a writable vector — the compaction step for rows surviving the
    * decode-time filter. Covers exactly BsonVectorDecoder.supports. */
  def copier(dt: DataType): (SpecializedGetters, Int, WritableColumnVector) => Unit = dt match {
    case IntegerType | DateType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull() else d.appendInt(g.getInt(o))
    case LongType | TimestampType | TimestampNTZType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull() else d.appendLong(g.getLong(o))
    case DoubleType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull() else d.appendDouble(g.getDouble(o))
    case BooleanType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull() else d.appendBoolean(g.getBoolean(o))
    case StringType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull()
      else { val b = g.getUTF8String(o).getBytes; d.appendByteArray(b, 0, b.length) }
    case BinaryType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull()
      else { val b = g.getBinary(o); d.appendByteArray(b, 0, b.length) }
    case dec: DecimalType => (g, o, d) =>
      if (g.isNullAt(o)) d.appendNull()
      else graft.bson.VectorAppend.unscaled(dec,
        g.getDecimal(o, dec.precision, dec.scale), d)
    case st: StructType =>
      val subs = st.fields.map(f => copier(f.dataType))
      (g, o, d) =>
        if (g.isNullAt(o)) d.appendStruct(true)
        else {
          val row = g.getStruct(o, subs.length)
          d.appendStruct(false)
          var i = 0
          while (i < subs.length) { subs(i)(row, i, d.getChild(i)); i += 1 }
        }
    case ArrayType(et, _) =>
      val sub = copier(et)
      (g, o, d) =>
        if (g.isNullAt(o)) d.appendNull()
        else {
          val arr = g.getArray(o)
          val n = arr.numElements()
          val rowId = d.getElementsAppended
          val child = d.arrayData()
          val startOff = child.getElementsAppended
          var i = 0
          while (i < n) { sub(arr, i, child); i += 1 }
          d.reserve(rowId + 1)
          d.putArray(rowId, startOff, n)
          d.addElementsAppended(1)
        }
    case NullType => (_, _, d) => d.appendNull()
    case other => throw new IllegalStateException(s"no vector copier for $other")
  }
}

/** Shared chassis for the DIRECT (tree-free) columnar partition readers:
  * batch/vector lifecycle, pushed-LIMIT accounting, and decode-time
  * filter evaluation with row compaction. Subclasses supply one-document
  * decode ([[decodeOne]] appends exactly one row to every vector).
  *
  * Pushed filters (when present) evaluate per document against the
  * just-decoded row — decode-BEFORE-filter, so strict-mode type errors
  * raise exactly as on the tree path — and surviving rows compact into a
  * second vector set that becomes the output batch.
  *
  * Documented divergence: the direct decode writes straight into
  * vectors, so APPENDER-stage narrowing (date32 day-count toIntExact,
  * decimal precision, timestamp micros overflow) runs for every decoded
  * row — including rows a decode-time filter then drops. The tree path
  * converts to external values first and never appends dropped rows, so
  * a poison value of that narrow class in a filtered-out row raises
  * here but not there. Convert-stage errors (the whole coercion matrix)
  * behave identically on both paths; replicating the tree's accidental
  * leniency would need per-row vector rollback, rejected by design. */
private[sources] abstract class DirectColumnarReaderBase(
    schema: StructType, limitRows: Int,
    filters: Array[Filter], partValues: Map[String, Any])
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private var remaining = limitRows
  protected val capacity = 4096
  protected val vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  // ---- decode-time filter machinery (allocated only when needed) ----
  private val hasFilters = filters.nonEmpty
  private val outVectors =
    if (hasFilters) OnHeapColumnVector.allocateColumns(capacity, schema) else null
  private val outBatch =
    if (hasFilters) new org.apache.spark.sql.vectorized.ColumnarBatch(
      outVectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])
    else null
  private val copiers =
    if (hasFilters) schema.fields.map(f => VectorRead.copier(f.dataType)) else null
  // per filter-referenced doc column: ordinal + external-value reader
  private val filterReaders: Map[String, (org.apache.spark.sql.catalyst.InternalRow => Any)] =
    if (!hasFilters) Map.empty
    else {
      val pos = schema.fieldNames.zipWithIndex.toMap
      filters.flatMap(_.references).distinct.toSeq.flatMap { name =>
        pos.get(name).map { j =>
          val rd = VectorRead.external(schema.fields(j).dataType)
          name -> ((row: org.apache.spark.sql.catalyst.InternalRow) => rd(row, j))
        }
      }.toMap
    }

  /** Decode the next document, appending EXACTLY one row to every vector;
    * false at end of input (nothing appended). */
  protected def decodeOne(): Boolean

  protected def closeInput(): Unit

  override def next(): Boolean = {
    if (remaining <= 0) return false
    var nOut = 0
    var eof = false
    // with a selective filter a whole decode chunk can produce zero
    // survivors — keep decoding chunks until rows surface or EOF
    var continue = true
    while (continue) {
      var i = 0
      while (i < vectors.length) { vectors(i).reset(); i += 1 }
      if (hasFilters) {
        var k = 0
        while (k < outVectors.length) { outVectors(k).reset(); k += 1 }
      }
      var nDec = 0
      while (nDec < capacity && nOut < remaining && !eof) {
        if (!decodeOne()) eof = true
        else {
          GraftScanMetrics.direct.increment()
          if (!hasFilters) {
            GraftScanMetrics.emitted.increment()
            nOut += 1
          } else {
            batch.setNumRows(nDec + 1)
            val row = batch.getRow(nDec)
            def get(name: String): Any = filterReaders.get(name) match {
              case Some(rd) => rd(row)
              case None => partValues.getOrElse(name, null)
            }
            if (filters.forall(DocFilterEval.eval(_, get))) {
              var j = 0
              while (j < copiers.length) {
                copiers(j)(row, j, outVectors(j))
                j += 1
              }
              GraftScanMetrics.emitted.increment()
              nOut += 1
            } else GraftScanMetrics.skipped.increment()
          }
          nDec += 1
        }
      }
      continue = hasFilters && nOut == 0 && !eof
    }
    remaining -= nOut
    val out = if (hasFilters) outBatch else batch
    out.setNumRows(nOut)
    nOut > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    if (hasFilters) outBatch else batch
  override def close(): Unit = {
    batch.close()
    if (outBatch != null) outBatch.close()
    closeInput()
  }
}

/** Direct BSON→ColumnarBatch partition reader: length-prefixed documents
  * stream through [[graft.bson.BsonVectorDecoder]]'s per-column writers —
  * no intermediate tree, undeclared fields skipped as byte ranges. */
private[sources] class BsonColumnarReader(
    fsIn: java.io.InputStream,
    schema: StructType, strict: Boolean, limitRows: Int = Int.MaxValue,
    filters: Array[Filter] = Array.empty,
    partValues: Map[String, Any] = Map.empty)
  extends DirectColumnarReaderBase(schema, limitRows, filters, partValues) {
  import graft.bson.BsonVectorDecoder

  private val in = new java.io.BufferedInputStream(fsIn, 1 << 16)
  private val writers = schema.fields.map(BsonVectorDecoder.writerFor(_, strict))
  private val fieldIdx = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    m
  }
  private val seen = new Array[Boolean](schema.length)
  private var body = new Array[Byte](1 << 12) // grows to the largest doc

  /** Next document body length, or -1 at clean EOF. */
  private def readDocInto(): Int = {
    val b0 = in.read()
    if (b0 < 0) return -1
    val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
    if (b3 < 0) throw new java.io.EOFException("truncated BSON length prefix")
    val len = b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
    if (len < 5 || len > graft.bson.BsonBinary.MaxDocBytes)
      throw new graft.bson.GraftTypeError(s"invalid BSON document length $len")
    val n = len - 4
    if (body.length < n) body = new Array[Byte](Integer.highestOneBit(n) * 2)
    var off = 0
    while (off < n) {
      val r = in.read(body, off, n - off)
      if (r < 0) throw new java.io.EOFException(
        s"truncated BSON document: expected $n bytes, got $off")
      off += r
    }
    n
  }

  override protected def decodeOne(): Boolean = {
    val len = readDocInto()
    if (len < 0) false
    else {
      val buf = java.nio.ByteBuffer.wrap(body, 0, len)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      BsonVectorDecoder.walkDocument(buf, writers, fieldIdx, vectors, seen)
      true
    }
  }

  override protected def closeInput(): Unit = in.close()
}

/** Direct ext-JSON→ColumnarBatch partition reader: each line streams
  * through [[graft.bson.JsonVectorDecoder]]'s token writers — no JsonNode
  * tree per document (the text-format twin of [[BsonColumnarReader]],
  * reference lib.pyx:212-294 single-pass builder walk). */
private[sources] class JsonlColumnarReader(
    fsIn: org.apache.hadoop.fs.FSDataInputStream, start: Long, end: Long,
    schema: StructType, strict: Boolean, limitRows: Int = Int.MaxValue,
    filters: Array[Filter] = Array.empty,
    partValues: Map[String, Any] = Map.empty)
  extends DirectColumnarReaderBase(schema, limitRows, filters, partValues) {
  import graft.bson.JsonVectorDecoder

  private val lines = new JsonlRawLines(fsIn, start, end)
  private val writers = schema.fields.map(JsonVectorDecoder.writerFor(_, strict))
  private val fieldIdx = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    m
  }
  private val seen = new Array[Boolean](schema.length)

  override protected def decodeOne(): Boolean = {
    val len = lines.nextNonEmpty()
    if (len < 0) false
    else {
      val p = JsonVectorDecoder.factory.createParser(lines.buffer, 0, len)
      try JsonVectorDecoder.walkDocument(p, writers, fieldIdx, vectors, seen)
      finally p.close()
      true
    }
  }

  override protected def closeInput(): Unit = lines.close()
}

/** Wraps a doc-schema columnar reader, interleaving constant partition
  * columns (hive layout) into the output batch — the same
  * `ConstantColumnVector` mechanism parquet uses for its partition
  * columns, so a partition column costs ZERO decode work per row. */
private[sources] class PartitionFilledBatchReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    outSchema: StructType, docIdx: Array[Int], consts: Array[Any])
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.catalyst.util.DateTimeUtils
  import org.apache.spark.sql.types._

  private val constVectors: Array[org.apache.spark.sql.vectorized.ColumnVector] =
    outSchema.fields.zipWithIndex.map { case (f, i) =>
      if (docIdx(i) >= 0) null
      else {
        val v = new ConstantColumnVector(4096, f.dataType)
        consts(i) match {
          case null => v.setNull()
          case x => f.dataType match {
            case StringType  => v.setUtf8String(
              org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String]))
            case IntegerType => v.setInt(x.asInstanceOf[Int])
            case LongType    => v.setLong(x.asInstanceOf[Long])
            case ShortType   => v.setShort(x.asInstanceOf[Short])
            case ByteType    => v.setByte(x.asInstanceOf[Byte])
            case DoubleType  => v.setDouble(x.asInstanceOf[Double])
            case FloatType   => v.setFloat(x.asInstanceOf[Float])
            case BooleanType => v.setBoolean(x.asInstanceOf[Boolean])
            case DateType    => v.setInt(
              DateTimeUtils.fromJavaDate(x.asInstanceOf[java.sql.Date]))
            case d: DecimalType => v.setDecimal(
              org.apache.spark.sql.types.Decimal(x.asInstanceOf[java.math.BigDecimal]),
              d.precision)
            case other => throw new IllegalStateException(
              s"no constant vector for partition type $other")
          }
        }
        v
      }
    }
  private var outBatch: org.apache.spark.sql.vectorized.ColumnarBatch = _

  override def next(): Boolean = inner.next()

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
    val b = inner.get()
    if (outBatch == null) { // inner reuses its batch object: wire once
      val cols = outSchema.fields.indices.map(i =>
        if (docIdx(i) >= 0) b.column(docIdx(i)) else constVectors(i)).toArray
      outBatch = new org.apache.spark.sql.vectorized.ColumnarBatch(cols)
    }
    outBatch.setNumRows(b.numRows())
    outBatch
  }

  override def close(): Unit = {
    inner.close()
    constVectors.filter(_ != null).foreach(_.close())
  }
}

/** Byte-range line reader for split `.jsonl` files, under the standard
  * text-split contract: skip the partial first line unless `start == 0`,
  * own every line whose FIRST byte lies before `end`, and read past `end`
  * to finish the last owned line. The skip seeks to `start - 1` and
  * discards through the first newline, so a line beginning exactly at
  * `start` (the byte before it IS a newline) stays with this split.
  * The stream is read in [[JsonlRawLines.ChunkBytes]] chunks with
  * `read(byte[])`; an array loop finds each `'\n'` and the line is
  * copied out with `System.arraycopy` into a reused buffer as raw UTF-8
  * — the direct token decoder parses it without a String alloc, the
  * tree path wraps it into a JsonNode. Closing closes `fsIn`. */
private[sources] final class JsonlRawLines(
    fsIn: org.apache.hadoop.fs.FSDataInputStream, start: Long, end: Long) {
  private val chunk = new Array[Byte](JsonlRawLines.ChunkBytes)
  private var chunkPos = 0 // next unread byte of chunk
  private var chunkLen = 0 // valid bytes in chunk
  // file offset of chunk(chunkPos): where the next line starts
  private var pos = if (start > 0) start - 1 else 0L
  private var lineAt = -1L
  private var buf = new Array[Byte](1 << 12)

  if (pos > 0) fsIn.seek(pos)
  if (start > 0) {
    var skipping = true
    while (skipping) {
      val nl = newlineFrom(chunkPos)
      pos += nl - chunkPos
      if (nl < chunkLen) { chunkPos = nl + 1; pos += 1; skipping = false }
      else { chunkPos = chunkLen; skipping = fill() }
    }
  }

  /** Index of the first `'\n'` in chunk at or after `from`, else chunkLen. */
  private def newlineFrom(from: Int): Int = {
    var i = from
    while (i < chunkLen && chunk(i) != '\n') i += 1
    i
  }

  /** Refill the chunk; false at end of stream. */
  private def fill(): Boolean = {
    chunkPos = 0
    chunkLen = math.max(fsIn.read(chunk, 0, chunk.length), 0)
    chunkLen > 0
  }

  /** Reused line buffer; valid for the length the last next*() returned. */
  def buffer: Array[Byte] = buf

  /** File offset of the first byte of the line the last next*() returned. */
  def lineStart: Long = lineAt

  /** Read the next owned line into [[buffer]]; returns its byte length,
    * or -1 when the split is exhausted (empty lines return 0). */
  def next(): Int = {
    if (pos >= end) return -1
    if (chunkPos == chunkLen && !fill()) return -1
    lineAt = pos
    var n = 0
    var more = true
    while (more) {
      val nl = newlineFrom(chunkPos)
      val len = nl - chunkPos
      if (n + len > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + len))
      System.arraycopy(chunk, chunkPos, buf, n, len)
      n += len; pos += len
      if (nl < chunkLen) { chunkPos = nl + 1; pos += 1; more = false }
      else { chunkPos = chunkLen; more = fill() }
    }
    n
  }

  /** [[next]], skipping empty lines; -1 when exhausted. */
  def nextNonEmpty(): Int = {
    var n = next()
    while (n == 0) n = next()
    n
  }

  def close(): Unit = fsIn.close()
}

private[sources] object JsonlRawLines {
  val ChunkBytes: Int = 1 << 16
}

private[sources] class JsonlLineIterator(
    fsIn: org.apache.hadoop.fs.FSDataInputStream, start: Long, end: Long)
  extends Iterator[com.fasterxml.jackson.databind.JsonNode] {
  private val mapper = DocDecoder.newMapper()
  private val lines = new JsonlRawLines(fsIn, start, end)
  private var nextLen = -2 // -2 = not fetched

  override def hasNext: Boolean = {
    if (nextLen == -2) nextLen = lines.nextNonEmpty()
    nextLen >= 0
  }
  override def next(): com.fasterxml.jackson.databind.JsonNode = {
    if (!hasNext) throw new NoSuchElementException
    val n = nextLen; nextLen = -2
    mapper.readTree(new String(lines.buffer, 0, n,
      java.nio.charset.StandardCharsets.UTF_8))
  }
}

// ---- write path ------------------------------------------------------------

/** DSv2 write: `df.write.format("graftdocs").mode("append").save(path)`.
  * Wraps the sink's batching/commit bookkeeping (DocWriter's 48 MB−16 KiB
  * / 100k flush limits, reference api.py:91-95,685-697) in the connector
  * contract; `format` option picks extended-JSON lines (default) or raw
  * BSON batch files.
  *
  * Commit protocol: tasks stage batches as HIDDEN dot-files (readers
  * filter them), so failed/speculative attempts never surface data —
  * task abort deletes its own staged files, and the driver renames the
  * winning attempts' files visible only at job commit. Overwrite mode
  * maps to TRUNCATE: pre-existing batch files are recorded up front and
  * deleted AFTER the new files commit (a failed overwrite keeps the old
  * data). */
private[sources] class GraftWriteBuilder(info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      graft.sinks.DocWriter.validateSchema(info.schema())
      val options = info.options()
      val path = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("graftdocs write: 'path' required"))
      val format = Option(options.get("format")).getOrElse("jsonl")
      if (format != "jsonl" && format != "bson")
        throw new IllegalArgumentException(
          s"graftdocs write: format must be jsonl|bson, got $format")
      // hive-style partitioned layout: `partitionBy=col1,col2` routes each
      // document into `col1=v1/col2=v2/` and drops the columns from the
      // document body (they round-trip through the directory name)
      val partitionBy: Seq[String] = Option(options.get("partitionby"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      if (partitionBy.distinct.length != partitionBy.length)
        throw new IllegalArgumentException(
          s"graftdocs write: duplicate partitionBy columns in " +
            partitionBy.mkString(","))
      partitionBy.foreach { c =>
        // the column name becomes the literal directory-segment key:
        // '=' / '/' would corrupt the layout grammar, '.' would hide it
        if (c.contains('=') || c.contains('/') || c.startsWith("."))
          throw new IllegalArgumentException(
            s"graftdocs write: partitionBy column name '$c' cannot " +
              "contain '=' or '/' or start with '.'")
        val fd = info.schema().fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graftdocs write: partitionBy column '$c' not in schema"))
        if (!DocPartitions.castable(fd.dataType))
          throw new IllegalArgumentException(
            s"graftdocs write: partitionBy column '$c' has " +
              s"non-partitionable type ${fd.dataType.simpleString}")
      }
      if (partitionBy.nonEmpty && partitionBy.length == info.schema().length)
        throw new IllegalArgumentException(
          "graftdocs write: all columns are partition columns")
      // `jobtoken` pins the job-unique file-name token to a caller value:
      // final file names become deterministic per token, which is what
      // lets an idempotent streaming sink clean a crashed attempt's
      // files by prefix before re-appending (EventStream.writeToDocSink)
      val tokenOverride = Option(options.get("jobtoken")).map { t =>
        if (t.isEmpty || !t.forall(c => c.isLetterOrDigit || c == '-'))
          throw new IllegalArgumentException(
            s"graftdocs write: jobtoken '$t' must be [A-Za-z0-9-]+")
        t
      }
      // `bloomColumns=c1,c2`: per-file Bloom filters over the named
      // columns ride the .zmap sidecar — the equality twin of min/max
      // for hash-distributed layouts (point lookups / $in probes open
      // only admitting files). Opt-in like parquet's per-column bloom
      // enablement; only exact-hashable kinds qualify (integral,
      // string, date, timestamp — see ZoneMaps.bloomHash).
      val bloomColumns: Set[String] = Option(options.get("bloomcolumns"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      bloomColumns.foreach { c =>
        if (partitionBy.contains(c))
          throw new IllegalArgumentException(
            s"graftdocs write: bloomColumns column '$c' is a partition " +
              "column (partition values prune by directory, not sidecar)")
        val fd = info.schema().fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graftdocs write: bloomColumns column '$c' not in schema"))
        val tag = ZoneMaps.tagOf(fd.dataType)
        if (!tag.exists(ZoneMaps.BloomableTags))
          throw new IllegalArgumentException(
            s"graftdocs write: bloomColumns column '$c' has " +
              s"non-bloomable type ${fd.dataType.simpleString} " +
              "(integral, string, date, and timestamp columns only)")
      }
      if (bloomColumns.nonEmpty && !options.getBoolean("zonemaps", true))
        throw new IllegalArgumentException(
          "graftdocs write: bloomColumns requires zoneMaps (the filters " +
            "ride the .zmap sidecar)")
      new GraftBatchWrite(info.schema(), path, format, doTruncate,
        options.getLong("maxbatchbytes", graft.sinks.DocWriter.MaxBatchBytes),
        options.getInt("maxbatchdocs", graft.sinks.DocWriter.MaxBatchDocs),
        new SerializableConfiguration(GraftDocSource.activeHadoopConf()),
        partitionBy, options.getBoolean("zonemaps", true), tokenOverride,
        bloomColumns)
    }
  }
}

/** Staged (hidden) batch-file names a task committed, plus counts. */
private[sources] case class GraftCommit(inserted: Long, batches: Long,
                                        stagedFiles: Seq[String])
  extends WriterCommitMessage

private[sources] class GraftBatchWrite(schema: StructType, path: String,
                                       format: String, truncate: Boolean,
                                       maxBatchBytes: Long, maxBatchDocs: Int,
                                       conf: SerializableConfiguration,
                                       partitionBy: Seq[String] = Seq.empty,
                                       zoneMaps: Boolean = true,
                                       tokenOverride: Option[String] = None,
                                       bloomColumns: Set[String] = Set.empty)
  extends BatchWrite {
  // job-unique token: final names can never collide with a previous
  // job's output (taskIds restart across applications). A caller-pinned
  // override trades that isolation for deterministic names (idempotent
  // streaming appends clean their own prefix before retrying).
  private val jobToken =
    tokenOverride.getOrElse(java.util.UUID.randomUUID().toString.take(8))
  private var preExisting: Seq[Path] = Seq.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task launches: prepare the target dir and
    // record what truncate must remove at commit time
    val dir = new Path(path)
    // raw local fs for file: targets (no client-side .crc sidecars on
    // the staged-rename commit protocol) — see DocStore.storeFs
    val fs = graft.sinks.DocStore.storeFs(dir, conf.value)
    if (truncate && fs.exists(dir)) {
      // recursive: a partitioned layout keeps its batch files in k=v subdirs
      val it = fs.listFiles(dir, true)
      val all = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".jsonl") || p.getName.endsWith(".bson") ||
            p.getName.endsWith(".zmap")) all += p
      }
      val (hidden, visible) = all.toSeq.partition(_.getName.startsWith("."))
      preExisting = visible // deleted only after the new data commits
      // staged garbage from crashed writers (no abort ever ran for them)
      // is reclaimed now, before this job stages anything
      hidden.foreach(fs.delete(_, false))
    }
    fs.mkdirs(dir)
    new GraftDataWriterFactory(schema, path, format, jobToken,
      maxBatchBytes, maxBatchDocs, conf, partitionBy, zoneMaps, bloomColumns)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = graft.sinks.DocStore.storeFs(new Path(path), conf.value)
    // winning attempts only (the commit coordinator arbitrates): unhide.
    // Hadoop rename signals most failures by returning FALSE — treat
    // that as an error, and roll already-renamed files back to staged on
    // any failure so a partial commit never leaves mixed old+new data.
    val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    try {
      messages.collect { case c: GraftCommit => c }.flatMap(_.stagedFiles)
        .foreach { staged =>
          val p = new Path(staged)
          val dest = new Path(p.getParent, p.getName.stripPrefix("."))
          if (!fs.rename(p, dest)) throw new java.io.IOException(
            s"graftdocs commit: rename $p -> $dest failed")
          done += ((p, dest))
        }
    } catch {
      case e: Throwable =>
        done.foreach { case (staged, dest) => fs.rename(dest, staged) }
        throw e
    }
    // truncate semantics: old data disappears only after the new commits
    preExisting.foreach(fs.delete(_, false))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = graft.sinks.DocStore.storeFs(new Path(path), conf.value)
    messages.collect { case c: GraftCommit => c }.flatMap(_.stagedFiles)
      .foreach(s => fs.delete(new Path(s), false))
  }
}

private[sources] class GraftDataWriterFactory(schema: StructType, path: String,
                                              format: String, jobToken: String,
                                              maxBatchBytes: Long, maxBatchDocs: Int,
                                              conf: SerializableConfiguration,
                                              partitionBy: Seq[String] = Seq.empty,
                                              zoneMaps: Boolean = true,
                                              bloomColumns: Set[String] = Set.empty)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, path, format, jobToken, partitionId, taskId,
      maxBatchBytes, maxBatchDocs, conf.value, partitionBy, zoneMaps, bloomColumns)
}

/** Per-partition writer: the reference's single client loop becomes N of
  * these; each batches documents to the byte/count limits and flushes
  * one HIDDEN staged file per batch
  * (`.part-<jobToken>-<partition>-<task>-<batch>.<ext>`), unhidden by
  * the driver at job commit. */
private[sources] class GraftDataWriter(schema: StructType, path: String,
                                       format: String, jobToken: String,
                                       partitionId: Int, taskId: Long,
                                       maxBatchBytes: Long, maxBatchDocs: Int,
                                       conf: Configuration,
                                       partitionBy: Seq[String] = Seq.empty,
                                       zoneMaps: Boolean = true,
                                       bloomColumns: Set[String] = Set.empty)
  extends DataWriter[InternalRow] {
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val fs = graft.sinks.DocStore.storeFs(new Path(path), conf)
  private val isBson = format == "bson"

  // partition routing: documents carry only the data columns; the
  // partition columns round-trip through the k=v directory path
  private val partIdx: Array[Int] = partitionBy.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdx.contains).toArray
  private val dataSchema =
    if (partIdx.isEmpty) schema else StructType(dataIdx.map(schema.fields))

  private var batchIdx = 0
  private var inserted = 0L
  private var batches = 0L
  private val staged = scala.collection.mutable.ArrayBuffer.empty[Path]

  private class ByteBatch {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    var docs = 0
    def size: Long = out.size().toLong
    // zone-map stats ride the batch: min/max/nulls per stat-able data
    // column (plus per-column Bloom filters when asked), staged as a
    // `.zmap` sidecar through the same hidden-rename commit as the data
    // file (parquet footer min/max + bloom, doc-source form)
    val stats = new ZoneMaps.Collector(dataSchema, bloomColumns)
  }
  // one open batch per partition directory ("" when unpartitioned).
  // Memory is bounded to ~maxBatchBytes TOTAL regardless of how many
  // partition values a task sees: when the sum of open buffers exceeds
  // the budget, the largest flushes early (smaller batch files, never
  // OOM — the classic dynamic-partition writer hazard). Callers writing
  // massively-partitioned data should still repartition by the partition
  // columns first so each task sees few values.
  private val open = scala.collection.mutable.LinkedHashMap.empty[String, ByteBatch]
  private var totalBuffered = 0L

  override def write(record: InternalRow): Unit = {
    val row = toScala(record).asInstanceOf[org.apache.spark.sql.Row]
    val (relDir, docRow) =
      if (partIdx.isEmpty) ("", row)
      else {
        val rel = partitionBy.zip(partIdx).map { case (c, i) =>
          c + "=" + GraftDocSource.escapePathValue(DocPartitions.render(row.get(i)))
        }.mkString("/")
        (rel, org.apache.spark.sql.Row.fromSeq(
          dataIdx.toIndexedSeq.map(row.get)): org.apache.spark.sql.Row)
      }
    val bytes =
      if (isBson) BsonBinary.encodeRow(docRow, dataSchema)
      else (graft.sinks.DocWriter.encodeJsonLine(docRow, dataSchema) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val cur = open.getOrElseUpdate(relDir, new ByteBatch)
    if (cur.docs > 0 &&
        (cur.size + bytes.length > maxBatchBytes || cur.docs >= maxBatchDocs))
      flush(relDir) // removes the entry; reopen below
    val buf = open.getOrElseUpdate(relDir, new ByteBatch)
    buf.out.write(bytes, 0, bytes.length)
    buf.docs += 1
    buf.stats.update(docRow)
    totalBuffered += bytes.length
    while (totalBuffered > maxBatchBytes && open.size > 1) {
      val largest = open.maxBy(_._2.size)._1
      flush(largest)
    }
  }

  private def flush(relDir: String): Unit = {
    val buf = open.getOrElse(relDir, null)
    if (buf == null || buf.docs == 0) { open.remove(relDir); return }
    val ext = if (isBson) "bson" else "jsonl"
    val dir = if (relDir.isEmpty) new Path(path) else new Path(path, relDir)
    if (!relDir.isEmpty) fs.mkdirs(dir)
    val f = new Path(dir,
      f".part-$jobToken-$partitionId%05d-$taskId%06d-$batchIdx%05d.$ext")
    val out = fs.create(f, true)
    try buf.out.writeTo(out) finally out.close()
    staged += f
    if (zoneMaps && buf.stats.nonEmptySchema) {
      val zf = new Path(dir, f.getName + ".zmap") // hidden: same dot prefix
      val zout = fs.create(zf, true)
      try zout.write(buf.stats.encode(buf.size)) finally zout.close()
      staged += zf // unhidden by the same job commit as its data file
    }
    inserted += buf.docs; batches += 1
    batchIdx += 1
    totalBuffered -= buf.size
    open.remove(relDir)
  }

  override def commit(): WriterCommitMessage = {
    open.keys.toSeq.foreach(flush)
    GraftCommit(inserted, batches, staged.map(_.toString).toSeq)
  }
  override def abort(): Unit = staged.foreach(fs.delete(_, false))
  override def close(): Unit = ()
}
