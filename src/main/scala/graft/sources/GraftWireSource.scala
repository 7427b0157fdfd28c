package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.json4s._

import graft.mql.FilterTranslator

/** `graftwire`: the live connector as a first-class DSv2 batch source —
  * the shape a production MongoDB↔Spark bridge takes (the reference is
  * that bridge's columnar core; its api.py client loop becomes a Spark
  * scan here):
  *
  *   spark.read.format("graftwire")
  *     .option("host", h).option("port", p).option("collection", c)
  *     .option("splitKey", "key").option("numSplits", 8)
  *     .load().where(...).select(...)
  *
  * Scale shape — this is the 1000-executor design, tested on loopback:
  *  - PARTITION = CURSOR: the driver plans key ranges once (splitVector
  *    quantiles), then EACH TASK dials its own connection and drives a
  *    full find → getMore cursor for its range. No driver funnel, no
  *    shared socket; adding executors adds cursors.
  *  - FILTER PUSHDOWN over the wire: Catalyst filters translate to ONE
  *    MQL document (FilterTranslator — kept-row-set equivalence is
  *    property-pinned), evaluated server-side; untranslatable shapes
  *    stay Spark-side residuals. The pushed document is visible in
  *    `explain` as `PushedMqlFilter`.
  *  - COLUMN PRUNING over the wire: the required schema becomes the
  *    find command's include-projection, so unprojected columns never
  *    cross the network (reference api.py:172-173's projection
  *    synthesis, server side).
  *  - COLUMNAR DECODE: each task streams its cursor's raw BSON batches
  *    through the direct bytes→vectors reader ([[BsonColumnarReader]]),
  *    a getMore per batch it needs — no row materialization, no tree,
  *    nothing written to disk; closing the reader kills the cursor.
  *  - The transport options compose: SCRAM credentials, TLS, zlib,
  *    snappy or zstd compression, CRC-32C checksums, exhaust streaming.
  *
  * Options: host (required), collection (required), port (required),
  * database (default "graft"), batchSize (default 1000), splitKey +
  * numSplits (parallel cursors; omit for one cursor), user + password,
  * tlsKeystore + tlsPassword, compressor ("zlib"/"snappy"/"zstd" — enables
  * compression), checksum (bool), exhaust (bool), inferDocs (schema
  * sample size, default 500), pipeline (a JSON aggregation pipeline —
  * the server runs it and the scan reads its OUTPUT, the reference's
  * aggregate_raw_batches as a DataFrame; no filter pushdown or
  * splitKey in this mode — put $match in the pipeline). */
class GraftWireSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftwire"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val c = GraftWireSource.connOf(options)
    val sample = Option(options.get("inferDocs")).map(_.toInt).getOrElse(500)
    require(sample > 0, "graftwire: inferDocs must be positive")
    // one bounded cursor; its docs infer by the graftdocs rules
    // (first-non-null, int widening, null catch-up) — see OpMsg.localFrame.
    // A missing/empty collection infers as the EMPTY schema — the write
    // path creates collections that don't exist yet (Spark asks the
    // provider for a table before building the write), and a read of
    // one still fails loudly at execution.
    if (Option(options.get("changeStream")).exists(_.toBoolean)) {
      // change-doc shape: infer by replaying the retained history once
      // (bounded); an empty history infers empty — supply .schema()
      val keyField = Option(options.get("keyField")).getOrElse("_id")
      return (try OpMsg.watch(org.apache.spark.sql.SparkSession.active,
          c.host, c.port, c.db, c.coll, keyField = keyField,
          credentials = c.credentials, tls = c.tls)._1.schema
        catch { case scala.util.control.NonFatal(_) => new StructType() })
    }
    try c.pipeline match {
      case Some(pl) =>
        // a pipeline read samples the AGGREGATE's output shape (a
        // $limit keeps the server-side sample bounded)
        val stages = graft.mql.Mql.parse(pl) match {
          case JArray(es) => JArray(es :+ JObject(List(
            "$limit" -> JInt(sample))))
          case other => throw new IllegalArgumentException(
            s"graftwire: pipeline must be a JSON array, got $other")
        }
        OpMsg.aggregate(org.apache.spark.sql.SparkSession.active,
          c.host, c.port, c.db, c.coll,
          FilterTranslator.render(stages),
          batchSize = math.min(sample, c.batchSize),
          credentials = c.credentials, tls = c.tls,
          compress = c.compress, checksum = c.checksum,
          compressor = c.compressor).schema
      case None =>
        OpMsg.find(org.apache.spark.sql.SparkSession.active,
          c.host, c.port, c.db, c.coll, limit = Some(sample),
          batchSize = math.min(sample, c.batchSize),
          credentials = c.credentials, tls = c.tls,
          compress = c.compress, checksum = c.checksum,
          compressor = c.compressor).schema
    } catch { case scala.util.control.NonFatal(_) => new StructType() }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftWireTable(schema,
      new CaseInsensitiveStringMap(properties))
}

private[sources] object GraftWireSource {
  final case class Conn(host: String, port: Int, db: String, coll: String,
                        batchSize: Int,
                        credentials: Option[(String, String)],
                        tls: Option[(String, String)],
                        compress: Boolean, compressor: String,
                        checksum: Boolean, exhaust: Boolean,
                        pipeline: Option[String] = None)
    extends Serializable

  def connOf(options: CaseInsensitiveStringMap): Conn = {
    def req(k: String): String = Option(options.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graftwire: option '$k' is required"))
    val user = Option(options.get("user"))
    val password = Option(options.get("password"))
    require(user.isDefined == password.isDefined,
      "graftwire: user and password must be set together")
    val store = Option(options.get("tlsKeystore"))
    val storePw = Option(options.get("tlsPassword"))
    require(store.isDefined == storePw.isDefined,
      "graftwire: tlsKeystore and tlsPassword must be set together")
    val compressor = Option(options.get("compressor"))
    Conn(
      host = req("host"),
      port = req("port").toInt,
      db = Option(options.get("database")).getOrElse("graft"),
      coll = req("collection"),
      batchSize = Option(options.get("batchSize")).map(_.toInt).getOrElse(1000),
      credentials = user.zip(password),
      tls = store.zip(storePw),
      compress = compressor.isDefined,
      compressor = compressor.getOrElse("zlib"),
      checksum = Option(options.get("checksum")).exists(_.toBoolean),
      exhaust = Option(options.get("exhaust")).exists(_.toBoolean),
      pipeline = Option(options.get("pipeline")))
  }
}

private[sources] class GraftWireTable(tableSchema: StructType,
                                      options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite {
  private val c = GraftWireSource.connOf(options)
  override def name(): String = s"graftwire(${c.db}.${c.coll})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new GraftWireScanBuilder(tableSchema,
      if (opts.isEmpty) options else opts)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWireWriteBuilder(info,
      if (info.options.isEmpty) options else info.options)
}

/** The write side: df.write.format("graftwire").mode("append") sends
  * each partition's rows over its OWN insert connection (kind-1
  * document sequences, batched under mongod's limits) — the DSv2 twin
  * of [[OpMsg.insert]](perPartition = true).
  *
  * Batch semantics are mongod's, stated honestly: inserts are
  * acknowledged appends, NOT a staged transactional commit — a retried
  * batch task re-sends its documents (at-least-once, like a driver
  * bulk insert without retryable-write dedup). Pipelines needing
  * staged commits land in graftdocs/parquet and ship files instead.
  *
  * STREAMING writes (`df.writeStream.format("graftwire")`) ride
  * mongod's retryable-writes contract instead: every insert command
  * carries `{lsid: "<streamId>/<partition>", txnNumber:
  * (epochId << 20) | flushIndex}`, and the server acknowledges a
  * replayed (lsid, txnNumber) from its transaction log WITHOUT
  * re-applying — a restarted or retried micro-batch lands exactly
  * once within the log's window. The `streamId` option defaults to
  * the query id (per-run protection); pass a stable `streamId` to
  * extend the dedup across query restarts from a checkpoint. */
private[sources] class GraftWireWriteBuilder(info: LogicalWriteInfo,
                                             options: CaseInsensitiveStringMap)
  extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftWireBatchWrite(info.schema(), GraftWireSource.connOf(options))
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val streamId = Option(options.get("streamId")).getOrElse(info.queryId())
      new GraftWireStreamingWrite(info.schema(),
        GraftWireSource.connOf(options), streamId)
    }
  }
}

private[sources] class GraftWireStreamingWrite(schema: StructType,
                                               conn: GraftWireSource.Conn,
                                               streamId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftWireStreamWriterFactory(schema, conn, streamId)
  // each document was acknowledged (and replay-deduped) at send time
  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class GraftWireStreamWriterFactory(schema: StructType,
                                                    conn: GraftWireSource.Conn,
                                                    streamId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    // lsid stable per (stream, partition); txnNumber stable per
    // (epoch, flush) — a replayed task regenerates the SAME pairs,
    // which is exactly what makes the server-side dedup land
    new GraftWireDataWriter(schema, conn,
      Some((s"$streamId/$partitionId", epochId << 20)))
}

private[sources] class GraftWireBatchWrite(schema: StructType,
                                           conn: GraftWireSource.Conn)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new GraftWireWriterFactory(schema, conn)
  // every document was individually acknowledged at send time; there is
  // no staged state to publish or roll back (see the builder scaladoc)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class GraftWireWriterFactory(schema: StructType,
                                              conn: GraftWireSource.Conn)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftWireDataWriter(schema, conn)
}

private[sources] class GraftWireDataWriter(schema: StructType,
                                           conn: GraftWireSource.Conn,
                                           session: Option[(String, Long)]
                                             = None)
  extends DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  private var flushes = 0L
  private val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToScalaConverter(schema)
  private val channel = new OpMsg.InsertChannel(conn.host, conn.port,
    conn.db, conn.coll, conn.credentials, conn.tls, conn.compress,
    conn.checksum, conn.compressor)
  private var batch = Seq.newBuilder[Array[Byte]]
  private var nDocs = 0
  private var nBytes = 0L
  private var acknowledged = 0L

  override def write(record: org.apache.spark.sql.catalyst.InternalRow)
      : Unit = {
    val row = toScala(record).asInstanceOf[org.apache.spark.sql.Row]
    val doc = graft.bson.BsonBinary.encodeRow(row, schema)
    batch += doc
    nDocs += 1; nBytes += doc.length
    if (nDocs >= OpMsg.MaxWriteBatchDocs || nBytes >= OpMsg.MaxBsonObjectSize)
      flush()
  }
  private def flush(): Unit = {
    // txnNumber = (epochId << 20) + flushIndex: past 2^20 flushes in
    // one epoch/partition the numbers would collide with epoch N+1's
    // range and the server's retryable-write log would silently
    // swallow genuinely new data — refuse loudly instead. 2^20 flushes
    // × 100k docs = 10^11 docs per partition per micro-batch; a
    // pipeline near that shape needs more partitions, not more bits.
    // NOTE: server-side dedup assumes deterministic replay — a retried
    // task re-batches identical rows in identical order. True for
    // deterministic upstreams (file sources, this repo's gates); a
    // nondeterministic shuffle upstream voids the effectively-once
    // guarantee exactly as it does for every Spark sink.
    if (session.isDefined)
      require(flushes < (1L << 20),
        s"graftwire streaming write: $flushes flushes in one epoch " +
          "exhausts the per-epoch txnNumber space (2^20) — repartition " +
          "the stream instead")
    acknowledged += channel.send(batch.result(),
      session.map { case (sid, txnBase) => (sid, txnBase + flushes) })
    flushes += 1
    batch = Seq.newBuilder[Array[Byte]]
    nDocs = 0; nBytes = 0L
  }
  override def commit(): WriterCommitMessage = {
    flush()
    channel.close()
    GraftWireCommit(acknowledged)
  }
  override def abort(): Unit = channel.close()
  override def close(): Unit = ()
}

private[sources] case class GraftWireCommit(acknowledged: Long)
  extends WriterCommitMessage

private[sources] class GraftWireScanBuilder(fullSchema: StructType,
                                            options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a pipeline read computes the server's aggregate verbatim —
    // Catalyst filters cannot be folded into it soundly, so they all
    // stay Spark-side ($match inside the pipeline is the user's tool)
    if (Option(options.get("pipeline")).isDefined) return filters
    // change-stream reads spool change DOCUMENTS — predicates over the
    // nested event shape stay Spark-side (put $match in the watch
    // pipeline server-side if needed)
    if (Option(options.get("changeStream")).exists(_.toBoolean))
      return filters
    // translated conjuncts run server-side with the engine's own MQL
    // semantics (kept-row-set ≡ Catalyst, FilterTranslatorSpec);
    // untranslatable shapes return to Spark as residuals
    val (_, residual) = FilterTranslator.translateAll(filters.toSeq)
    pushed = filters.filterNot(residual.contains)
    residual.toArray
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names(f.name)))
  }

  override def build(): Scan =
    new GraftWireScan(required, pushed.toSeq, options)
}

private[sources] class GraftWireScan(required: StructType,
                                     pushed: Seq[Filter],
                                     options: CaseInsensitiveStringMap)
  extends Scan with Batch {
  private val c = GraftWireSource.connOf(options)
  private val splitKey = Option(options.get("splitKey"))
  private val numSplits =
    Option(options.get("numSplits")).map(_.toInt).getOrElse(4)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val pushedDoc: String =
    FilterTranslator.render(FilterTranslator.translateAll(pushed)._1)

  /** One rendered MQL filter document per planned cursor. */
  private lazy val cursorDocs: Seq[String] = if (c.pipeline.isDefined) {
    require(splitKey.isEmpty,
      "graftwire: splitKey cannot combine with a pipeline read " +
        "(the aggregate's output has no planned key ranges)")
    Seq(pushedDoc) // unused by the aggregate partition
  } else {
    val bounds = splitKey match {
      case Some(k) if numSplits > 1 =>
        OpMsg.splitBounds(c.host, c.port, c.db, c.coll, k, numSplits,
          c.credentials, c.tls)
      case _ => Seq.empty
    }
    if (bounds.isEmpty) Seq(pushedDoc)
    else OpMsg.keyRanges(splitKey.get, bounds).map(r =>
      FilterTranslator.render(FilterTranslator.translateAll(pushed :+ r)._1))
  }

  override def description(): String = {
    val proj = required.fieldNames.mkString(",")
    c.pipeline match {
      case Some(pl) =>
        s"graftwire(${c.db}.${c.coll}), pipeline: $pl, decode: [$proj]"
      case None =>
        s"graftwire(${c.db}.${c.coll}), PushedMqlFilter: $pushedDoc, " +
          s"cursors: ${cursorDocs.size}, projection: [$proj]"
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    cursorDocs.map(doc =>
      GraftWirePartition(c, doc, required.fieldNames.toSeq): InputPartition
    ).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftWireReaderFactory(required)

  /** Streaming read: incremental wire ingest keyed on a monotonically
    * increasing numeric column (`offsetKey`) — each micro-batch is the
    * half-open key range (lastMax, currentMax], fetched as one cursor
    * with the pushed filters AND the range riding the wire. The
    * JDBC-style incremental pattern: exactly-once under an append-only
    * collection whose new rows carry strictly larger keys (both
    * documented requirements); true resume tokens are a replica-set
    * oplog feature (LIVE_CONNECTOR.md item 1). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(c.pipeline.isEmpty,
      "graftwire streaming cannot run a pipeline (stream the collection" +
        " and aggregate in Spark)")
    // change-stream mode: resume tokens ARE the offsets — each trigger
    // drives the tailable $changeStream cursor to caught-up, spools
    // its raw change documents next to the checkpoint, and the
    // batch reads the spooled files (token sidecars make the tail
    // position recoverable across restarts)
    if (Option(options.get("changeStream")).exists(_.toBoolean)) {
      require(Option(options.get("offsetKey")).isEmpty &&
        Option(options.get("splitKey")).isEmpty,
        "graftwire changeStream streaming cannot combine with " +
          "offsetKey/splitKey")
      val keyField = Option(options.get("keyField")).getOrElse("_id")
      val startTok = Option(options.get("startToken")).getOrElse("")
      val compactAt = Option(options.get("spoolCompact")).map(_.toInt)
        .getOrElse(64)
      require(compactAt >= 2, "graftwire: spoolCompact must be >= 2")
      return new GraftWireChangeStream(c, keyField, required,
        checkpointLocation, startTok, compactAt)
    }
    val offsetKey = Option(options.get("offsetKey")).getOrElse(
      throw new IllegalArgumentException(
        "graftwire streaming needs offsetKey (a monotonically " +
          "increasing numeric column)"))
    val start0 = Option(options.get("startOffset")).map(_.toLong)
      .getOrElse(Long.MinValue)
    new GraftWireMicroBatchStream(c, offsetKey, pushed, required, start0)
  }
}

private[sources] case class WireOffset(max: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = max.toString
}

private[sources] class GraftWireMicroBatchStream(
    c: GraftWireSource.Conn, offsetKey: String, pushed: Seq[Filter],
    required: StructType, start0: Long)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Current high-water mark: one bounded server-side aggregate
    * ($max of the offset key — a 1-row reply). */
  private def queryMax(): Long = {
    val pipeline =
      "[{\"$group\": {\"_id\": null, \"m\": {\"$max\": \"$" +
        offsetKey + "\"}}}]"
    val rows = OpMsg.aggregate(org.apache.spark.sql.SparkSession.active,
      c.host, c.port, c.db, c.coll, pipeline,
      credentials = c.credentials, tls = c.tls,
      compress = c.compress, checksum = c.checksum,
      compressor = c.compressor).collect()
    if (rows.isEmpty) start0
    else rows(0).getAs[Any]("m") match {
      case null => start0
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case other => throw new IllegalArgumentException(
        s"graftwire: offsetKey '$offsetKey' must be integral, " +
          s"got ${other.getClass.getSimpleName}")
    }
  }

  override def initialOffset(): Offset = WireOffset(start0)
  override def latestOffset(): Offset = WireOffset(queryMax())
  override def deserializeOffset(json: String): Offset =
    WireOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[WireOffset].max
    val hi = end.asInstanceOf[WireOffset].max
    if (lo >= hi) return Array.empty
    import org.apache.spark.sql.sources.{And, GreaterThan, LessThanOrEqual}
    val range: Filter =
      And(GreaterThan(offsetKey, lo), LessThanOrEqual(offsetKey, hi))
    val doc = FilterTranslator.render(
      FilterTranslator.translateAll(pushed :+ range)._1)
    Array(GraftWirePartition(c, doc, required.fieldNames.toSeq))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftWireReaderFactory(required)
}

private[sources] case class GraftWirePartition(
    conn: GraftWireSource.Conn, filterJson: String,
    projection: Seq[String]) extends InputPartition

/** Change-stream offsets: (spool sequence number, resume token). The
  * token is authoritative for the WIRE position; the sequence number
  * names the spooled batch files a (start, end] range covers. */
private[sources] case class WireTokenOffset(n: Long, token: String)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(List(
        "n" -> JLong(n), "token" -> JString(token)))))
}

private[sources] object WireTokenOffset {
  def fromJson(j: String): WireTokenOffset = {
    val fields = graft.mql.Mql.parse(j) match {
      case JObject(fs) => fs.toMap
      case other => throw new IllegalArgumentException(
        s"graftwire change offset must be a document, got $other")
    }
    val n = fields.get("n") match {
      case Some(JLong(v)) => v
      case Some(JInt(v)) => v.toLong
      case other => throw new IllegalArgumentException(
        s"graftwire change offset needs n, got $other")
    }
    val tok = fields.get("token") match {
      case Some(JString(t)) => t
      case other => throw new IllegalArgumentException(
        s"graftwire change offset needs token, got $other")
    }
    WireTokenOffset(n, tok)
  }
}

/** `$changeStream` as a Structured Streaming SOURCE: each trigger
  * drives one tailable wire cursor from the last token to caught-up
  * (`OpMsg.watchFetch`), spools the raw change documents as
  * `spool-N.bson` + a `spool-N.token` sidecar under the CHECKPOINT
  * location (shared storage on a real cluster — same durability
  * domain as the offsets that reference it), and each micro-batch is
  * the spooled files in its (start, end] sequence range, decoded by
  * the direct BSON→vector reader one partition per file. Commit
  * releases processed data files; token sidecars stay so a restarted
  * driver recovers the wire tail position even past retention. */
private[sources] class GraftWireChangeStream(
    c: GraftWireSource.Conn, keyField: String, required: StructType,
    checkpointLocation: String, startToken: String,
    compactThreshold: Int = 64)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.hadoop.fs.Path

  private val conf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
  private val spool = new Path(checkpointLocation, "graftwire-spool")
  private val fs = spool.getFileSystem(conf.value)
  fs.mkdirs(spool): Unit

  private def dataFile(n: Long): Path = new Path(spool, f"spool-$n%010d.bson")
  private def tokenFile(n: Long): Path = new Path(spool, f"spool-$n%010d.token")
  // a compacted run of plain spool files: one concatenated .bson plus a
  // tiny index sidecar mapping each sequence to its (offset, length)
  // byte slice, so ANY (start, end] batch range stays servable exactly
  private def mergedFile(k1: Long, k2: Long): Path =
    new Path(spool, f"spool-$k1%010d-$k2%010d.bson")
  private def mergedIdx(k1: Long, k2: Long): Path =
    new Path(spool, f"spool-$k1%010d-$k2%010d.idx")
  private val MergedRe = """spool-(\d{10})-(\d{10})\.bson""".r
  private val PlainRe = """spool-(\d{10})\.bson""".r
  private def listDataNames(): Seq[String] =
    fs.listStatus(spool).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("spool-") && n.endsWith(".bson"))

  private def readToken(p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var r = in.read(chunk)
      while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Wire tail position, recovered from the newest token sidecar —
    * the spool reflects every fetch, committed or not. */
  @volatile private var cur: (Long, String) = {
    val ns = fs.listStatus(spool).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("spool-") && n.endsWith(".token"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("spool-").stripSuffix(".token").toLong).toOption)
    if (ns.isEmpty) (0L, startToken)
    else { val m = ns.max; (m, readToken(tokenFile(m))) }
  }

  override def initialOffset(): Offset = WireTokenOffset(0L, startToken)
  override def deserializeOffset(json: String): Offset =
    WireTokenOffset.fromJson(json)

  override def latestOffset(): Offset = {
    // a concurrent writer's version swap can fail one poll transiently
    // (the store's rename window); a couple of short retries absorb it
    // — genuine errors (bad keyField, dead server) still surface fast,
    // and a failed trigger must not kill a tailable source
    def fetch(attempt: Int): (Seq[Array[Byte]], String) =
      try OpMsg.watchFetch(c.host, c.port, c.db, c.coll,
        keyField = keyField,
        resumeAfter = Some(cur._2).filter(_.nonEmpty),
        batchSize = c.batchSize, credentials = c.credentials, tls = c.tls)
      catch {
        case scala.util.control.NonFatal(e) if attempt < 3 =>
          Thread.sleep(200); fetch(attempt + 1)
      }
    val (docs, tok) = fetch(0)
    if (docs.isEmpty) WireTokenOffset(cur._1, cur._2)
    else {
      val n = cur._1 + 1
      val out = fs.create(dataFile(n), true)
      try docs.foreach(out.write) finally out.close()
      val tout = fs.create(tokenFile(n), true)
      try tout.write(tok.getBytes("UTF-8")) finally tout.close()
      cur = (n, tok)
      compactSpool()
      WireTokenOffset(n, tok)
    }
  }

  // seed from the spool listing so the FIRST post-restart commit is
  // O(uncommitted window) too: everything below the smallest surviving
  // data file was already released by the previous incarnation —
  // starting from 0 would walk 1..N issuing no-op deletes once per
  // restart. No data files (all committed) → seed from the recovered
  // sequence counter itself.
  // private[sources]: specs pin the post-restart seeding contract
  @volatile private[sources] var lastCommitted: Long = {
    val ds = listDataNames().flatMap {
      case PlainRe(k) => Some(k.toLong)
      case MergedRe(k1, _) => Some(k1.toLong)
      case _ => None
    }
    if (ds.isEmpty) cur._1 else ds.min - 1
  }
  // highest sequence any PLANNED batch may be reading: plain files at or
  // below it can be mid-read by executing tasks, so compaction only
  // folds files strictly above (freshly spooled, not yet referenced)
  @volatile private var lastPlannedHi: Long = cur._1

  /** Fold the uncommitted, not-yet-planned plain spool files into one
    * merged file + slice index when their count crosses the threshold —
    * a long-lived query behind a stalled/slow downstream keeps a
    * BOUNDED spool file count instead of one file per non-empty
    * trigger. Offsets are untouched (the index preserves every
    * sequence boundary); plain files delete only after the merged file
    * + index are durably in place, so a crash mid-compaction leaves a
    * readable spool (plain files win on overlap). */
  private def compactSpool(): Unit = {
    val floor = math.max(lastCommitted, lastPlannedHi)
    val plains = listDataNames().flatMap {
      case PlainRe(k) => Some(k.toLong).filter(_ > floor)
      case _ => None
    }.sorted
    // only a CONTIGUOUS tail run folds (gaps mean already-merged spans)
    if (plains.length < compactThreshold) return
    val runs = plains.foldLeft(List.empty[List[Long]]) {
      case (acc, k) if acc.nonEmpty && acc.head.head == k - 1 =>
        (k :: acc.head) :: acc.tail
      case (acc, k) => List(k) :: acc
    }.map(_.reverse).reverse
    runs.filter(_.length >= 2).foreach { run =>
      val (k1, k2) = (run.head, run.last)
      val idx = new StringBuilder
      val out = fs.create(mergedFile(k1, k2), true)
      try {
        var off = 0L
        run.foreach { k =>
          val st = fs.getFileStatus(dataFile(k))
          val in = fs.open(dataFile(k))
          try {
            val buf = new Array[Byte](1 << 16)
            var r = in.read(buf)
            while (r > 0) { out.write(buf, 0, r); r = in.read(buf) }
          } finally in.close()
          idx.append(s"$k $off ${st.getLen}\n"): Unit
          off += st.getLen
        }
      } finally out.close()
      val iout = fs.create(mergedIdx(k1, k2), true)
      try iout.write(idx.toString.getBytes("UTF-8")) finally iout.close()
      run.foreach(k => fs.delete(dataFile(k), false): Unit)
    }
  }

  /** (file, offset, length) per sequence in `ks`: the plain file when
    * present, else the covering merged file's slice — one directory
    * listing and one index read per merged file for the WHOLE range
    * (planInputPartitions calls this once per batch). */
  private def slicesOf(ks: Seq[Long]): Map[Long, (String, Long, Long)] = {
    val names = listDataNames()
    val plain = names.collect { case n @ PlainRe(k) => k.toLong -> n }.toMap
    val merged = names.collect {
      case n @ MergedRe(a, b) => (a.toLong, b.toLong, n) }
    val idxCache =
      scala.collection.mutable.Map.empty[String, Map[Long, (Long, Long)]]
    ks.map { k =>
      plain.get(k) match {
        case Some(n) =>
          val p = new Path(spool, n)
          k -> ((p.toString, 0L, fs.getFileStatus(p).getLen))
        case None =>
          val (_, _, n) = merged.find { case (a, b, _) => a <= k && k <= b }
            .getOrElse(throw new IllegalStateException(
              s"graftwire spool: no data for sequence $k (over-aggressive " +
                "cleanup or foreign deletion)"))
          val idx = idxCache.getOrElseUpdate(n, {
            val ip = new Path(spool, n.stripSuffix(".bson") + ".idx")
            val in = fs.open(ip)
            val text = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString finally in.close()
            text.linesIterator.map(_.split(' ')).collect {
              case Array(kk, off, len) =>
                kk.toLong -> ((off.toLong, len.toLong))
            }.toMap
          })
          val (off, len) = idx.getOrElse(k, throw new IllegalStateException(
            s"graftwire spool: merged index for $n lacks sequence $k"))
          k -> ((new Path(spool, n).toString, off, len))
      }
    }.toMap
  }
  override def commit(end: Offset): Unit = {
    // processed batches release their data files; token sidecars prune
    // to the newest (the only one restart recovery reads) — both keep
    // commit O(batches since last commit), never O(query lifetime),
    // including the first commit after a restart (seed above)
    val n = end.asInstanceOf[WireTokenOffset].n
    ((lastCommitted + 1) to n).foreach { k =>
      fs.delete(dataFile(k), false): Unit
      if (k < cur._1) fs.delete(tokenFile(k), false): Unit
    }
    // merged files release once their whole span is processed
    listDataNames().foreach {
      case f @ MergedRe(_, b) if b.toLong <= n =>
        fs.delete(new Path(spool, f), false): Unit
        fs.delete(new Path(spool, f.stripSuffix(".bson") + ".idx"),
          false): Unit
      case _ => ()
    }
    lastCommitted = math.max(lastCommitted, n)
  }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[WireTokenOffset].n
    val hi = end.asInstanceOf[WireTokenOffset].n
    lastPlannedHi = math.max(lastPlannedHi, hi)
    val slices = slicesOf((lo + 1) to hi)
    ((lo + 1) to hi).map { k =>
      val (f, off, len) = slices(k)
      GraftWireSpoolPartition(f, off, len): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftWireSpoolReaderFactory(required, conf)
}

private[sources] case class GraftWireSpoolPartition(file: String,
                                                    offset: Long = 0L,
                                                    length: Long = -1L)
  extends InputPartition

private[sources] class GraftWireSpoolReaderFactory(
    required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val part = partition.asInstanceOf[GraftWireSpoolPartition]
    val hp = new org.apache.hadoop.fs.Path(part.file)
    val pfs = hp.getFileSystem(conf.value)
    val in = pfs.open(hp)
    val stream: java.io.InputStream =
      if (part.length < 0) in
      else { // a merged-file slice: seek + bounded read
        in.seek(part.offset)
        new java.io.InputStream {
          private var left = part.length
          override def read(): Int =
            if (left <= 0) -1
            else { val b = in.read(); if (b >= 0) left -= 1; b }
          override def read(b: Array[Byte], o: Int, l: Int): Int = {
            if (left <= 0) return -1
            val r = in.read(b, o, math.min(l.toLong, left).toInt)
            if (r > 0) left -= r
            r
          }
          override def close(): Unit = in.close()
        }
      }
    new BsonColumnarReader(stream, required, strict = false)
  }
  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException(
      "graftwire change-stream partitions read columnar")
}

private[sources] class GraftWireReaderFactory(required: StructType)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException(
      "graftwire reads are columnar")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftWirePartition]
    val c = p.conn
    // this partition's cursor streams its batches straight into the
    // direct BSON→vector decoder, a getMore per batch the decoder needs
    val cmd = c.pipeline match {
      case Some(pl) =>
        // pipeline read: the server runs the aggregate; the pruned
        // schema drops unneeded output columns at decode time
        val stages = graft.mql.Mql.parse(pl) match {
          case a: JArray => a
          case other => throw new IllegalStateException(
            s"graftwire pipeline is not an array: $other")
        }
        JObject(List(
          "aggregate" -> JString(c.coll),
          "pipeline" -> stages,
          "cursor" -> JObject(List("batchSize" -> JInt(c.batchSize))),
          "$db" -> JString(c.db)))
      case None =>
        val filterDoc = graft.mql.Mql.parse(p.filterJson) match {
          case o: JObject => o
          case other => throw new IllegalStateException(
            s"graftwire partition filter is not a document: $other")
        }
        JObject(List(
          "find" -> JString(c.coll),
          "filter" -> filterDoc) ++
          (if (p.projection.nonEmpty)
            List("projection" -> JObject(
              p.projection.toList.map(_ -> JInt(1))))
          else Nil) ++
          List("batchSize" -> JInt(c.batchSize), "$db" -> JString(c.db)))
    }
    val cursor = new OpMsg.Connection(c.host, c.port, c.db, c.credentials,
      c.tls, c.compress, c.checksum, c.compressor)
      .cursor(cmd, c.coll, c.batchSize, c.exhaust)
    val inner =
      try new BsonColumnarReader(new java.io.SequenceInputStream(
        cursor.flatten.map(d => new java.io.ByteArrayInputStream(d)
          : java.io.InputStream).asJavaEnumeration), required, strict = false)
      catch { case e: Throwable => cursor.close(); throw e }
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): ColumnarBatch = inner.get()
      // kills the server cursor when the scan stops early; the cursor
      // goes first, as SequenceInputStream.close() pulls every element
      override def close(): Unit = try cursor.close() finally inner.close()
    }
  }
}
