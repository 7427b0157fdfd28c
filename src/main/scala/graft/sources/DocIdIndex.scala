package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Persisted id → (file, offset, length) index over a `graftdocs`
  * layout — the engine's twin of MongoDB's `_id` index (the reference
  * delegates point lookups to the server's B-tree; a file-based source
  * gets a positional index instead).
  *
  * `build` walks every visible batch file once (one task per file,
  * embarrassingly parallel) recording each document's byte position;
  * `fetch(ids)` reads the index with parquet's own pushdown, groups the
  * hits by file, and performs ONE ranged read per document — at 100 TB
  * a point lookup costs an index probe plus `len` bytes, never a scan.
  * `update` folds newly arrived files in without rescanning indexed
  * history (the repo-wide index-lifecycle contract).
  *
  * Contracts, enforced loudly:
  *  - ids render to strings (`CAST(id AS STRING)`), so integral and
  *    string id columns both work; a null id refuses at build;
  *  - hive-partitioned (`k=v`) layouts work: the partition values ride
  *    each index entry and fetch re-attaches them typed (the document
  *    body does not carry them) — but the id column itself must be a
  *    DOCUMENT column, not a partition column (a directory value is
  *    constant per file, not an id);
  *  - files are immutable once committed: every entry records its
  *    file's byte length and fetch re-verifies it before seeking (a
  *    rewritten file fails loudly instead of returning garbage).
  */
object DocIdIndex {

  private val IndexSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("file_len", LongType, nullable = false),
    StructField("part", MapType(StringType, StringType), nullable = true)))

  private case class DataFile(path: String, len: Long,
                              part: Seq[(String, String)])

  /** Visible batch files of a graftdocs layout, with any hive `k=v`
    * partition values parsed from the directory segments. The walk
    * applies the SCAN's visibility rules (hidden `.`/`_` names skipped,
    * non-partition subdirectories out of the layout contract) so the
    * index covers exactly the rows a table scan of the same path
    * produces — an entry the scan can't see would make fetch invent
    * rows, and a stray non-`k=v` subdir must not fail the layout. */
  private def listDataFiles(spark: SparkSession, dataPath: String): Seq[DataFile] = {
    val root = new Path(dataPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) throw new IllegalArgumentException(
      s"doc-id index: data path $dataPath does not exist")
    def hidden(name: String): Boolean =
      name.startsWith(".") || name.startsWith("_")
    def walk(dir: Path, part: Seq[(String, String)]): Seq[DataFile] = {
      val entries = fs.listStatus(dir).toSeq
      val files = entries.filter { s =>
        val n = s.getPath.getName
        s.isFile && !hidden(n) && (n.endsWith(".jsonl") || n.endsWith(".bson"))
      }.map(s => DataFile(s.getPath.toString, s.getLen, part))
      val sub = entries
        .filter(s => s.isDirectory && !hidden(s.getPath.getName))
        .flatMap { d =>
          GraftDocSource.partitionSegment(d.getPath.getName) match {
            case Some(kv) => walk(d.getPath, part :+ kv)
            case None => Seq.empty // non-partition dir: outside the layout
          }
        }
      files ++ sub
    }
    walk(root, Seq.empty)
  }

  /** Partition columns of the layout (must be consistent), and the
    * document-body schema once they are carved out. */
  private def splitSchema(files: Seq[DataFile], idCol: String,
                          schema: StructType): (Seq[String], StructType) = {
    val keySeqs = files.map(_.part.map(_._1)).distinct
    if (keySeqs.size > 1) throw new IllegalArgumentException(
      "doc-id index: inconsistent partition layout across files: " +
        keySeqs.take(3).map(_.mkString("/")).mkString(", "))
    val partCols = keySeqs.headOption.getOrElse(Seq.empty)
    if (partCols.contains(idCol)) throw new IllegalArgumentException(
      s"doc-id index: id column '$idCol' is a partition column (a " +
        "directory value is constant per file, not a document id)")
    partCols.foreach { c =>
      if (!schema.fieldNames.contains(c)) throw new IllegalArgumentException(
        s"doc-id index: partition column '$c' missing from the declared schema")
    }
    (partCols, StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
  }

  /** One file's (id, offset, length) walk. The id is REQUIRED non-null:
    * a null id can never be fetched, so indexing it silently would
    * lose the document from the index's point of view. */
  private def walkFile(conf: SerializableConfiguration, idCol: String,
                       schema: StructType, path: String, fileLen: Long,
                       part: Map[String, String]): Iterator[Row] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val idField = schema.fields.find(_.name == idCol).getOrElse(
      throw new IllegalArgumentException(s"doc-id index: no column $idCol"))
    def render(v: Any): String = {
      if (v == null) throw new IllegalArgumentException(
        s"doc-id index: null $idCol in $path (ids must be non-null)")
      v.toString
    }
    val in = fs.open(p)
    // the iterator closes on clean exhaustion; a mid-walk decode error
    // or task kill must not leak the stream for the executor's lifetime
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit] { _ =>
        try in.close() catch { case _: Exception => () }
      })
    if (path.endsWith(".bson")) {
      val frames = new graft.bson.BsonBinary.Frames(
        new java.io.BufferedInputStream(in, 1 << 16))
      var offset = 0L
      new Iterator[Row] {
        private var nextDoc: Row = _
        private def advance(): Unit = {
          val n =
            try frames.next()
            catch {
              case e: java.io.EOFException => throw new java.io.EOFException(
                s"doc-id index: ${e.getMessage} in $path")
              case e: graft.bson.GraftTypeError => throw new graft.bson.GraftTypeError(
                s"doc-id index: ${e.getMessage} in $path")
            }
          if (n < 0) { nextDoc = null; in.close(); return }
          val node = graft.bson.BsonBinary.parseBody(frames.body, n)
          val id = graft.bson.DocDecoder.convert(node.get(idCol), idField,
            strict = true)
          nextDoc = Row(render(id), path, offset, n + 4, fileLen, part)
          offset += n + 4
        }
        advance()
        override def hasNext: Boolean = nextDoc != null
        override def next(): Row = { val r = nextDoc; advance(); r }
      }
    } else {
      // jsonl: the scan's own line reader over the whole file — byte-
      // accurate line offsets, and a line of zero bytes is not a row
      val lines = new JsonlRawLines(in, 0L, fileLen)
      val mapper = graft.bson.DocDecoder.newMapper()
      new Iterator[Row] {
        private var nextDoc: Row = _
        private def advance(): Unit = {
          val len = lines.nextNonEmpty()
          if (len < 0) { nextDoc = null; lines.close(); return }
          val node = mapper.readTree(lines.buffer, 0, len)
          val id = graft.bson.DocDecoder.convert(node.get(idCol), idField,
            strict = true)
          nextDoc = Row(render(id), path, lines.lineStart, len, fileLen, part)
        }
        advance()
        override def hasNext: Boolean = nextDoc != null
        override def next(): Row = { val r = nextDoc; advance(); r }
      }
    }
  }

  private def walkAll(spark: SparkSession, files: Seq[DataFile],
                      idCol: String, docSchema: StructType): DataFrame = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val fileDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        files.map(f => Row(f.path, f.len, f.part.toMap)),
        math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))),
      StructType(Seq(StructField("path", StringType),
        StructField("file_len", LongType),
        StructField("part", MapType(StringType, StringType)))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(IndexSchema)
    fileDf.mapPartitions(_.flatMap(r =>
      walkFile(conf, idCol, docSchema, r.getString(0), r.getLong(1),
        r.getAs[Map[String, String]](2))))(enc)
  }

  /** Build the index from scratch: one task per file, output small
    * sorted-by-id parquet (min/max per file make the id probe cheap). */
  def build(spark: SparkSession, dataPath: String, idCol: String,
            schema: StructType, indexPath: String): Unit = {
    val files = listDataFiles(spark, dataPath)
    val (_, docSchema) = splitSchema(files, idCol, schema)
    walkAll(spark, files, idCol, docSchema)
      .repartitionByRange(math.max(1, files.size / 64 + 1), col("id"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").parquet(indexPath)
  }

  /** Fold newly arrived files in — indexed history is never rescanned
    * (`update(build(A), B) ≡ build(A ∪ B)` up to row order); entries of
    * files that vanished (compaction, vacuum) are dropped. New entries
    * land as appended parquet files, so the fold costs O(new files). */
  def update(spark: SparkSession, dataPath: String, idCol: String,
             schema: StructType, indexPath: String): Unit = {
    val files = listDataFiles(spark, dataPath)
    val (_, docSchema) = splitSchema(files, idCol, schema)
    // membership is decided by JOINS against the listing — the index's
    // path universe (every file ever indexed) is never collected to the
    // driver. What does come back is O(new files): the listing's
    // anti-join survivors.
    import spark.implicits._
    val listing = files.map(_.path).toDF("path")
    val idx = spark.read.parquet(indexPath)
    val freshPaths = listing
      .join(idx.select("path"), Seq("path"), "left_anti")
      .collect().map(_.getString(0)).toSet
    val fresh = files.filter(f => freshPaths.contains(f.path))
    // vanished files: any index entry whose path left the listing
    // (isEmpty short-circuits at the first survivor)
    val goneExists = !idx.select("path")
      .join(listing, Seq("path"), "left_anti").isEmpty
    if (goneExists) {
      // rewrite only the removal: keep entries whose file still exists.
      // The surviving rows are MATERIALIZED (eager local checkpoint,
      // which also truncates lineage) before the overwrite deletes the
      // very files they came from — a cache() here could silently
      // recompute from deleted parquet on eviction; the checkpoint
      // either holds the blocks or fails loudly.
      val kept = idx.join(listing, Seq("path"), "left_semi")
        .localCheckpoint(true)
      kept.write.mode("overwrite").parquet(indexPath)
    }
    if (fresh.nonEmpty)
      walkAll(spark, fresh, idCol, docSchema)
        .write.mode("append").parquet(indexPath)
  }

  /** Point fetch: index probe (parquet pushdown on the sorted id
    * column) → one ranged read per hit. Duplicate ids return every
    * match (the engine does not enforce uniqueness — document). */
  def fetch(spark: SparkSession, indexPath: String, schema: StructType,
            ids: Seq[Any]): DataFrame = {
    val rendered = ids.map { v =>
      if (v == null) throw new IllegalArgumentException(
        "doc-id index: cannot fetch a null id")
      v.toString
    }
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val hits = spark.read.parquet(indexPath)
      .where(col("id").isin(rendered: _*))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    hits.repartition(col("path")) // co-locate per-file reads
      .mapPartitions { it =>
        val cached = scala.collection.mutable.Map
          .empty[String, org.apache.hadoop.fs.FSDataInputStream]
        val verified = scala.collection.mutable.Map.empty[String, Long]
        // streams must close on EVERY exit — exception, partial
        // consumption (limit), or exhaustion — not just the happy path
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            cached.values.foreach(s => try s.close() catch { case _: Exception => () })
            cached.clear()
          })
        val mapper = graft.bson.DocDecoder.newMapper()
        val rows = it.map { r =>
          val (path, offset, len, fileLen) =
            (r.getAs[String]("path"), r.getAs[Long]("offset"),
              r.getAs[Int]("length"), r.getAs[Long]("file_len"))
          val part = Option(r.getAs[Map[String, String]]("part"))
            .getOrElse(Map.empty[String, String])
          val p = new Path(path)
          val fs = p.getFileSystem(conf.value)
          // one staleness probe + one open per FILE, not per document:
          // the verified length is remembered so later hits of the same
          // path compare locally (an index holding two generations of
          // one path still fails loudly, without a second RPC)
          val in = cached.getOrElseUpdate(path, {
            val actual = fs.getFileStatus(p).getLen
            verified(path) = actual
            fs.open(p)
          })
          if (verified(path) != fileLen) throw new IllegalStateException(
            s"doc-id index: $path changed since indexing " +
              s"(${verified(path)} bytes, indexed $fileLen) — rebuild the index")
          // a bson hit's length counts its int32 prefix: read the body
          // alone and parse it in place
          val skip = if (path.endsWith(".bson")) 4 else 0
          val bytes = new Array[Byte](len - skip)
          in.readFully(offset + skip, bytes, 0, bytes.length)
          val node =
            if (skip > 0) graft.bson.BsonBinary.parseBody(bytes, bytes.length)
            else mapper.readTree(bytes)
          if (part.isEmpty)
            graft.bson.DocDecoder.decodeStruct(node, schema, strict = true)
          else {
            // partitioned layout: the body lacks the partition columns —
            // decode the document fields, re-attach the typed directory
            // values in declared-schema order
            val docSchema = StructType(
              schema.fields.filterNot(f => part.contains(f.name)))
            val decoded = graft.bson.DocDecoder
              .decodeStruct(node, docSchema, strict = true)
            val byName = docSchema.fieldNames.zipWithIndex.toMap
            Row.fromSeq(schema.fields.toSeq.map { f =>
              part.get(f.name) match {
                case Some(raw) => DocPartitions.cast(raw, f.dataType)
                case None => decoded.get(byName(f.name))
              }
            })
          }
        }
        new Iterator[Row] {
          override def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h) { cached.values.foreach(_.close()); cached.clear() }
            h
          }
          override def next(): Row = rows.next()
        }
      }(enc)
  }
}
