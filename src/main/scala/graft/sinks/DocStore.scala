package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.mql.MqlException
import graft.sources.GraftDocSource

/** A flat collection store over a directory — the write target for the
  * `$out`/`$merge` pipeline tails ([[graft.mql.WriteStages]]) and the
  * streaming merge sink.
  *
  * Two layouts:
  *  - `parquet` (default): one `<dir>/<name>.parquet` dataset per
  *    collection — the fixture-resolver convention (`Graft.tables`).
  *  - `graftdocs`: one `<dir>/<name>/` DOCUMENT collection per name
  *    (jsonl files + a `_graft_schema.json` sidecar), which makes the
  *    store directory a [[graft.sources.GraftCatalog]] database: a
  *    pipeline's `$out` lands somewhere `spark.sql` and the MQL surface
  *    can query as a first-class collection.
  *
  * Replacement is STAGED in both layouts: the new dataset is fully
  * written to a hidden sibling first, then swapped in with a delete +
  * rename. Readers holding the old file handles finish against the old
  * bytes; a crash mid-write leaves the old dataset intact (the orphaned
  * stage dir is re-listable garbage, never a half-written collection).
  * On HDFS-like filesystems the rename is atomic; on object stores it
  * degrades to copy — the window is the rename, never the (long) write.
  * This mirrors Mongo's `$out` contract: the target is replaced only
  * after the new collection is completely built.
  *
  * Scale note: the swap moves directory POINTERS, not data — the write
  * itself is a plain distributed write, partitioned like any other sink.
  */
final class DocStore(val spark: SparkSession, val dir: String,
                     val format: String = "parquet",
                     val versioned: Boolean = false) {
  if (format != "parquet" && format != "graftdocs")
    throw new MqlException(
      s"DocStore format must be parquet|graftdocs, got '$format'")

  private def fs = DocStore.storeFs(new Path(dir),
    spark.sparkContext.hadoopConfiguration)

  private def validName(name: String): String = {
    if (name.isEmpty || name.contains("/") || name.contains("..") ||
        name.startsWith(".") || name.startsWith("_"))
      throw new MqlException(s"bad collection name '$name'")
    name
  }

  def path(name: String): String =
    if (format == "parquet") s"$dir/${validName(name)}.parquet"
    else s"$dir/${validName(name)}"

  def exists(name: String): Boolean = fs.exists(new Path(path(name)))

  /** A cheap fingerprint of the collection's LIVE bytes: the recursive
    * file listing (relative path, length, mtime) hashed. Two stamps are
    * equal iff no commit touched the collection in between — every
    * write path lands via rename (staged swap or hidden-file append),
    * so any change moves a path or mtime. This is the validation read
    * optimistic transactions run at commit (first-committer-wins):
    * stamp at first touch, re-stamp under the write lock, mismatch =
    * write conflict. Never reads data bytes — O(files) metadata only,
    * which is what lets a 100 TB collection validate in milliseconds. */
  def contentStamp(name: String): String = {
    val f = fs
    val root = new Path(path(name))
    if (!f.exists(root)) return "absent"
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: Path): Unit =
      f.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        md.update(st.getPath.getName.getBytes("UTF-8"))
        if (st.isDirectory) walk(st.getPath)
        else {
          md.update(java.nio.ByteBuffer.allocate(16)
            .putLong(st.getLen).putLong(st.getModificationTime).array())
        }
      }
    walk(root)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Names of the store's live collections (visible directories/files
    * under the root; staging, aside, and version dirs excluded). */
  def collections(): Seq[String] = {
    val root = new Path(dir)
    val f = fs
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .map(n => if (n.endsWith(".parquet")) n.dropRight(8) else n)
      .sorted
  }

  /** Read a collection; graftdocs layouts use the `_graft_schema.json`
    * sidecar written at commit time, so the read is schema-exact (no
    * inference drift on empty/partial collections). Append-created
    * collections flush their pending inference sidecar first, so the
    * scan's schema resolution is a driver-side merge instead of a
    * distributed inference job. */
  def read(name: String): DataFrame = {
    flushInferSidecar(name)
    readAt(path(name))
  }

  /** The collection's declared unique-key column (`uniquekey` in the
    * `_graft_schema.json` sidecar), if any — the catalog-persisted form
    * of the `uniqueKey` pipeline assertion: `$lookup`/`$graphLookup`
    * over a catalog-resolved collection carrying this hint use the key
    * column itself as the regroup row identity, so the keyless
    * `monotonically_increasing_id` + `localCheckpoint` freeze never
    * forms. Declared via [[setUniqueKey]]; like Mongo's `_id` contract
    * it is the caller's assertion — a non-unique/nullable column here
    * attaches match arrays to the wrong rows. */
  def uniqueKeyOf(name: String): Option[String] = {
    if (format != "graftdocs") return None
    val side = new Path(path(name), "_graft_schema.json")
    val f = fs
    if (!f.exists(side)) return None
    val in = f.open(side)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Option(node.get("options")).flatMap(o => Option(o.get("uniquekey")))
      .map(_.asText).filter(_.nonEmpty)
  }

  /** Declare `key` as the collection's unique+non-null row identity
    * (see [[uniqueKeyOf]]). Patches the sidecar in place; the column
    * must exist in the declared schema. A full `$out`-style rewrite
    * replaces the sidecar and therefore drops the declaration (new
    * collection, new contract); partition-scoped merges preserve it. */
  def setUniqueKey(name: String, key: String): Unit = {
    require(format == "graftdocs", "setUniqueKey needs graftdocs layout")
    val side = new Path(path(name), "_graft_schema.json")
    val f = fs
    if (!f.exists(side))
      throw new MqlException(s"setUniqueKey: no sidecar for '$name'")
    val in = f.open(side)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(text)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val cols = org.apache.spark.sql.types.DataType
      .fromJson(root.get("schema").toString)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    if (!cols.contains(key) && !partitionColumnsOf(name).contains(key))
      throw new MqlException(
        s"setUniqueKey: no column '$key' in collection '$name'")
    val opts = Option(root.get("options"))
      .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
      .getOrElse(root.putObject("options"))
    opts.put("uniquekey", key): Unit
    val out = f.create(side, true)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
  }

  /** Partition columns a graftdocs collection was created with (the
    * catalog sidecar's `partitionby` option); empty for parquet
    * collections, unpartitioned collections, or external layouts
    * without a sidecar. */
  def partitionColumnsOf(name: String): Seq[String] = {
    if (format != "graftdocs") return Seq.empty
    val side = new Path(path(name), "_graft_schema.json")
    val f = fs
    if (!f.exists(side)) return Seq.empty
    val in = f.open(side)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Option(node.get("options")).flatMap(o => Option(o.get("partitionby")))
      .map(_.asText.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Overwrite ONLY the hive partitions present in `df`, leaving every
    * other partition's files untouched — the scale path for `$merge`
    * into a partitioned collection (a 100 TB collection is never
    * rewritten for a merge that touches one day). The full `df` is
    * staged partitioned first, then each staged `k=v` leaf directory
    * is swapped in; atomicity is PER PARTITION (the hive
    * dynamic-overwrite contract — a crash mid-swap leaves some
    * partitions new and some old, each internally consistent). The
    * sidecar is refreshed last so schema widening (new merge columns)
    * is visible to readers. */
  def overwritePartitions(df: DataFrame, name: String,
                          partitionBy: Seq[String],
                          tags: Map[String, String] = Map.empty): Unit = {
    require(format == "graftdocs", "overwritePartitions needs graftdocs layout")
    requireNoDeadHistory(name)
    val target = new Path(path(name))
    val stage = new Path(s"$dir/.graft_stage_${validName(name)}_${System.nanoTime()}")
    df.write.format("graftdocs")
      .option("partitionby", partitionBy.mkString(","))
      .mode("overwrite").save(stage.toString)
    val f = fs
    try {
      // leaf partition dirs sit exactly partitionBy.length levels deep
      def leaves(p: Path, depth: Int): Seq[Path] =
        if (depth == 0) Seq(p)
        else f.listStatus(p).toSeq.filter(s => s.isDirectory &&
          s.getPath.getName.contains("=")).flatMap(s => leaves(s.getPath, depth - 1))
      leaves(stage, partitionBy.length).foreach { leaf =>
        // relative k=v path = the last partitionBy.length segments
        // (string-prefix stripping is scheme-fragile: Path.toString may
        // or may not carry file:/hdfs: depending on how it was built)
        val rel = Iterator.iterate(leaf)(_.getParent)
          .take(partitionBy.length).map(_.getName).toSeq.reverse.mkString("/")
        val dst = new Path(target, rel)
        if (f.exists(dst) && !f.delete(dst, true))
          throw new MqlException(s"could not replace partition $rel of '$name'")
        f.mkdirs(dst.getParent)
        if (!f.rename(leaf, dst))
          throw new MqlException(s"could not commit partition $rel of '$name'")
      }
      // refreshed sidecar (schema may have widened through the merge);
      // partitionby and the unique-key declaration are preserved so
      // later loads keep the layout + row-identity contracts
      val prevUnique = uniqueKeyOf(name)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      root.set[com.fasterxml.jackson.databind.JsonNode]("schema",
        mapper.readTree(df.schema.json))
      val opts = root.putObject("options")
      opts.put("partitionby", partitionBy.mkString(","))
      prevUnique.foreach(k => opts.put("uniquekey", k): Unit)
      val out = f.create(new Path(target, "_graft_schema.json"), true)
      try out.write(mapper.writeValueAsBytes(root)) finally out.close()
      // tags land AFTER the per-partition swaps: replay protection for
      // partitioned targets is at-least-once with the window narrowed
      // to this write (the unpartitioned path is exactly-once — its tag
      // rides the single atomic swap)
      tags.foreach { case (k, v) =>
        if (!k.matches("[A-Za-z0-9_-]+"))
          throw new MqlException(s"bad tag key '$k'")
        val o = f.create(tagPath(name, k), true)
        try o.write(v.getBytes("UTF-8")) finally o.close()
      }
    } finally {
      if (f.exists(stage)) f.delete(stage, true): Unit
    }
  }

  /** Delete one hive partition directory (`k=v` or `k=v/k2=v2`) of a
    * partitioned graftdocs collection — the REMOVAL counterpart of
    * [[overwritePartitions]], which can only replace a partition that
    * still has rows (an emptied partition produces no staged leaf to
    * swap in, so its old files would survive a pure-overwrite delete).
    * Pointer delete, O(1) in data size. Returns false when the
    * partition did not exist. */
  def dropPartition(name: String, rel: String): Boolean = {
    require(format == "graftdocs", "dropPartition needs graftdocs layout")
    if (!rel.split("/").forall(_.matches("[A-Za-z0-9_.-]+=[^/]*")))
      throw new MqlException(s"bad partition path '$rel'")
    val p = new Path(new Path(path(name)), rel)
    val f = fs
    f.exists(p) && f.delete(p, true)
  }

  /** Remove orphaned stage directories (left only by a crash BETWEEN
    * a completed stage write and its swap — the finally-block cleans
    * the normal paths), and resolve orphaned `.graft_old_` aside dirs
    * from a crash mid-swap: if the collection is live again the aside
    * is superseded garbage (reaped); if the collection is ABSENT the
    * aside is the only copy of the pre-write data and moves back live
    * (recovery, not deletion). Never touches live collections. Returns
    * the number of directories removed. */
  def vacuum(): Int = {
    val root = new Path(dir)
    val f = fs
    if (!f.exists(root)) return 0
    val entries = f.listStatus(root).filter(_.isDirectory)
    val stages = entries.filter(_.getPath.getName.startsWith(".graft_stage_"))
    var removed = stages.count(st => f.delete(st.getPath, true))
    // `.graft_old_<name>_<nanos>`: the collection name may itself contain
    // '_', so split on the LAST separator. Two crashes mid-swap with a
    // successful write between can leave SEVERAL asides for one
    // collection — when the live copy is absent, the aside with the
    // LARGEST nanos suffix is the most recent committed data and is the
    // one restored; only the older ones are superseded. (Restoring in
    // listing order would resurrect the oldest and then delete the
    // newest as "superseded" — deterministic data loss.)
    val asides = entries
      .filter(_.getPath.getName.startsWith(".graft_old_"))
      .map { st =>
        val base = st.getPath.getName.stripPrefix(".graft_old_")
        val cut = base.lastIndexOf('_')
        val coll = if (cut > 0) base.substring(0, cut) else base
        val nanos =
          if (cut > 0) scala.util.Try(base.substring(cut + 1).toLong)
            .getOrElse(Long.MinValue)
          else Long.MinValue
        (coll, nanos, st.getPath)
      }
    asides.groupBy(_._1).foreach { case (coll, group) =>
      val live = new Path(path(coll))
      val sorted = group.sortBy(-_._2)
      val survivors =
        if (f.exists(live)) sorted // all superseded
        else { f.rename(sorted.head._3, live): Unit; sorted.tail }
      removed += survivors.count(g => f.delete(g._3, true))
    }
    removed
  }

  /** Commit-tag carrier file inside a collection: `_`-prefixed, so both
    * parquet and graftdocs readers skip it as data. Because it is
    * written into the STAGE dir before the swap, a tag is atomic with
    * the contents it describes — the exactly-once hook for
    * [[graft.streaming.EventStream.mergeStream]] (a replayed micro-batch
    * sees its own batchId already committed and skips). */
  private def tagPath(name: String, key: String): Path =
    new Path(path(name), s"_graft_tag_$key")

  /** Drop a collection (Mongo `db.coll.drop()`): data, sidecar, and
    * tags go together. RETIRED VERSIONS survive a drop — `restore(name,
    * versions(name).last)` after an accidental drop is the undo; prune
    * them explicitly when the history should go too. Returns false when
    * it did not exist. */
  def drop(name: String): Boolean = {
    val p = new Path(path(name))
    val f = fs
    inferState.remove(name): Unit // cached sidecar dies with the dir
    inferDirty.remove(name): Unit
    val dropped = f.exists(p) && f.delete(p, true)
    // DDL is part of the change history (mongod emits drop +
    // invalidate on the collection's change streams): journal the
    // event at a txnVersion past every data event the stream could
    // have served (retained transitions reach vs.last, the live diff
    // vs.last + 1)
    if (dropped) journalDdl(DocStore.DdlEvent("drop", name, None,
      versions(name).lastOption.getOrElse(0L) + 2,
      System.currentTimeMillis()))
    // the capped declaration dies with the collection (a later plain
    // collection under the same name must not inherit the cap)
    if (dropped) dropCapped(name): Unit
    dropped
  }

  /** Rename a collection (Mongo `renameCollection`): one directory/file
    * rename — atomic on HDFS-like filesystems, contents and tags ride
    * along. `dropTarget` mirrors Mongo's option: without it an existing
    * target is an error. */
  def rename(oldName: String, newName: String,
             dropTarget: Boolean = false): Unit = {
    val src = new Path(path(oldName))
    val dst = new Path(path(newName))
    val f = fs
    if (!f.exists(src))
      throw new MqlException(s"renameCollection: no collection '$oldName'")
    // retired versions follow the collection (time travel survives a
    // rename). ALL conflicts are checked before anything moves, so a
    // refusal never leaves the rename half-done.
    val vSrc = versionsDir(oldName)
    val vDst = versionsDir(newName)
    // a stale history at the target counts as "target exists" even when
    // its live dataset was dropped — and it is removed UNCONDITIONALLY
    // under dropTarget, or readVersion/restore on the renamed collection
    // would serve the dead collection's snapshots as its own history
    if ((f.exists(dst) || f.exists(vDst)) && !dropTarget)
      throw new MqlException(
        s"renameCollection: target '$newName' exists (pass dropTarget)")
    if (f.exists(dst) && !f.delete(dst, true))
      throw new MqlException(s"renameCollection: could not drop '$newName'")
    if (f.exists(vDst) && !f.delete(vDst, true))
      throw new MqlException(
        s"renameCollection: could not drop versions of '$newName'")
    if (!f.rename(src, dst))
      throw new MqlException(
        s"renameCollection: could not rename '$oldName' to '$newName'")
    if (f.exists(vSrc)) {
      f.mkdirs(vDst.getParent)
      if (!f.rename(vSrc, vDst))
        throw new MqlException(
          s"renameCollection: could not move versions of '$oldName'")
    }
    // mongod emits rename (with the `to` namespace) + invalidate on
    // the OLD name's change streams; txn past every data event the
    // old-name stream could have served. The versions moved with the
    // collection, so read the counter from the NEW name.
    journalDdl(DocStore.DdlEvent("rename", oldName, Some(newName),
      versions(newName).lastOption.getOrElse(0L) + 2,
      System.currentTimeMillis()))
  }

  // ---- views: stored aggregation pipelines (mongod `create` with
  // `viewOn`) -----------------------------------------------------------

  // ---- capped collections --------------------------------------------------
  // mongod's FIFO collections: a fixed budget of documents (max) and
  // bytes (size); inserts past the budget evict the OLDEST documents.
  // The declaration is one json file (like views); the collection
  // itself is built by the wire-insert append path ONLY — every data
  // file is an `insert_<nanos>_<count>.bson` batch, so insertion order
  // IS the (nanos, in-file) order, doc counts ride in the file name
  // (enforcement never re-parses history), and eviction is dropping
  // whole head files plus at most ONE head-of-file rewrite for the
  // straddling batch — O(overflow), not O(collection). Updates,
  // deletes and whole-collection rewrites refuse (mongod's own capped
  // restrictions), which is exactly what keeps the append-only file
  // layout the single source of truth for natural order.

  private def cappedDir = new Path(dir, "_graft_capped")
  private def cappedPath(name: String): Path =
    new Path(cappedDir, s"${validName(name)}.json")

  /** Declare `name` capped BEFORE its first insert: at most `max`
    * documents (0 = unbounded) and `size` bytes (0 = unbounded,
    * whole-file granularity like mongod's block-granular size cap). */
  def declareCapped(name: String, max: Long, size: Long = 0L): Unit = {
    if (exists(name)) throw new MqlException(
      s"declareCapped: collection '$name' already exists — capped " +
        "collections are declared before their first insert")
    if (isView(name)) throw new MqlException(
      s"declareCapped: a view named '$name' exists")
    if (max <= 0 && size <= 0) throw new MqlException(
      "declareCapped needs max docs > 0 or size bytes > 0")
    val f = fs
    f.mkdirs(cappedDir): Unit
    val out = f.create(cappedPath(name), false)
    try out.write(s"""{"max": $max, "size": $size}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** (max docs, size bytes) of a capped collection, 0 = unbounded. */
  def cappedSpec(name: String): Option[(Long, Long)] = {
    val p = cappedPath(name)
    val f = fs
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Some((node.get("max").asLong(), node.get("size").asLong()))
  }

  def dropCapped(name: String): Boolean = fs.delete(cappedPath(name), false)

  /** mongod's convertToCapped: rebuild an ordinary collection as a
    * capped one under the same name, keeping the NEWEST budget-ful of
    * documents in scan order. Memory is bounded by the CAP BUDGET, not
    * the collection: the scan streams through a deque that drops head
    * docs the moment the budget overflows — converting a 100 TB
    * collection to a 1 GB cap holds 1 GB. The rebuilt data is one
    * insert-batch file, so natural order and tailing work exactly as
    * for insert-built capped collections. (The drop→rebuild sequence
    * has a crash window between the two commits — mongod's own
    * convertToCapped is likewise not crash-atomic.) */
  def convertToCapped(name: String, max: Long, size: Long = 0L): Unit = {
    if (isView(name)) throw new MqlException(
      s"convertToCapped: '$name' is a view")
    if (cappedSpec(name).isDefined) throw new MqlException(
      s"convertToCapped: '$name' is already capped")
    if (!exists(name)) throw new MqlException(
      s"convertToCapped: no collection '$name'")
    if (max <= 0 && size <= 0) throw new MqlException(
      "convertToCapped needs max docs > 0 or size bytes > 0")
    // retained snapshots would become dead history under the rebuilt
    // name — make their destruction the CALLER's explicit decision
    if (versions(name).nonEmpty) throw new MqlException(
      s"convertToCapped: '$name' has retired versions; " +
        "pruneVersions(...) first (the conversion cannot keep them)")
    val df = read(name)
    val schema = df.schema
    val keep = new java.util.ArrayDeque[Array[Byte]]()
    var bytes = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val doc = graft.bson.BsonBinary.encodeRow(it.next(), schema)
      keep.addLast(doc); bytes += doc.length
      while ((max > 0 && keep.size > max) ||
             (size > 0 && bytes > size && keep.size > 1))
        bytes -= keep.removeFirst().length
    }
    val out = new java.io.ByteArrayOutputStream(bytes.toInt)
    keep.forEach(d => out.write(d, 0, d.length))
    drop(name): Unit
    declareCapped(name, max, size)
    if (out.size > 0) appendRaw(name, out.toByteArray)
  }

  /** mongod 6.0's collMod cappedSize/cappedMax: change a capped
    * collection's budget in place — a SHRINK evicts immediately (the
    * next reader already sees the new budget), a grow just raises the
    * ceiling. */
  def resizeCapped(name: String, max: Long, size: Long): Unit = {
    if (cappedSpec(name).isEmpty) throw new MqlException(
      s"resizeCapped: '$name' is not capped")
    if (max <= 0 && size <= 0) throw new MqlException(
      "resizeCapped needs max docs > 0 or size bytes > 0")
    val f = fs
    val out = f.create(cappedPath(name), true)
    try out.write(s"""{"max": $max, "size": $size}""".getBytes("UTF-8"))
    finally out.close()
    if (exists(name))
      capMonitor(name).synchronized { enforceCap(name, max, size) }
  }

  /** Every declared capped collection (inserted into yet or not). */
  def cappedNames(): Seq[String] = {
    val f = fs
    if (!f.exists(cappedDir)) return Seq.empty
    f.listStatus(cappedDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.dropRight(5)).sorted
  }

  /** A capped collection's batch files in insertion order:
    * (file name, nanos, doc count, byte length). */
  def cappedFiles(name: String): Seq[(String, Long, Int, Long)] = {
    val target = new Path(path(name))
    val f = fs
    if (!f.exists(target)) return Seq.empty
    f.listStatus(target).toSeq.map(_.getPath.getName)
      .flatMap {
        case n @ CappedFileName(nanos, count) =>
          Some((n, nanos.toLong, count.toInt,
            f.getFileStatus(new Path(target, n)).getLen))
        case _ => None
      }.sortBy(_._2)
  }
  private val CappedFileName = """insert_(\d+)_(\d+)\.bson""".r

  // ---- incremental inference sidecar (append paths) -------------------
  // Append-created collections have no declared `_graft_schema.json`, so
  // every read-back ran a distributed inference job over ALL batch files
  // (one task per file + a full decode pass — the dominant cost of the
  // wire-insert read-back at ~200 small files, guide §6). The appender
  // already holds each batch's bytes in memory, so it folds the batch
  // into a per-FILE type tree driver-side (microseconds for a wire
  // batch) and keeps `_graft_infer.json` = {file → tree}. The reader
  // merges the trees in file order — byte-identical to the job's
  // one-file-per-partition fold+merge (SchemaInference.typeTree/
  // mergeTrees are the same functions the job runs). Purely an
  // optimization: any failure or mismatch deletes/ignores the sidecar
  // and the reader falls back to the distributed inference.

  private def inferSidecarPath(name: String): Path =
    new Path(path(name), GraftDocSource.InferSidecarName)

  private def readInferSidecar(name: String): Map[String, String] = {
    val p = inferSidecarPath(name)
    val f = fs
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    try GraftDocSource.readInferSidecar(in) finally in.close()
  }

  // in-memory twin of each collection's sidecar, seeded from disk on
  // first touch: the store is its directory's single writer (the wire
  // server contract), so the cached map is authoritative. Appends only
  // mutate the map (a Hadoop-LocalFS create costs ~10 ms — paying it
  // per append made a 182-batch wire insert 60% slower); the file is
  // written ONCE, lazily, when a read needs it. A stale or torn on-disk
  // sidecar is harmless: the reader's exact key-set check rejects it
  // and falls back to the inference job.
  private val inferState =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  private val inferDirty =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Update the in-memory inference state: add `put` entries, remove
    * `drop` entries. Serialized per collection by the caller
    * (capMonitor); no file I/O — see [[flushInferSidecar]]. */
  private def updateInferSidecar(name: String, put: Map[String, String],
                                 drop: Seq[String] = Seq.empty): Unit =
    try {
      val prev = inferState.get(name) match {
        case null => readInferSidecar(name)
        case m => m
      }
      inferState.put(name, prev -- drop ++ put): Unit
      inferDirty.add(name): Unit
    } catch { case scala.util.control.NonFatal(_) =>
      inferState.remove(name): Unit
    }

  /** Write the pending inference state beside the batch files — called
    * on the read path so a whole append burst pays one file create. */
  private def flushInferSidecar(name: String): Unit =
    if (inferDirty.contains(name)) capMonitor(name).synchronized {
      if (inferDirty.remove(name)) try {
        val entries = inferState.get(name)
        if (entries != null && exists(name)) {
          val out = fs.create(inferSidecarPath(name), true)
          try GraftDocSource.writeInferSidecar(out, entries)
          finally out.close()
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          // a broken sidecar must never break reads — drop it
          inferState.remove(name): Unit
          try fs.delete(inferSidecarPath(name), false): Unit
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** The appended batch's type tree, as DataType json (driver-side fold
    * over the bytes already in hand). */
  private def batchTree(docs: Array[Byte], from: Int = 0): String =
    GraftDocSource.bsonTree(
      new java.io.ByteArrayInputStream(docs, from, docs.length - from))

  /** Enforce the cap after an append: drop whole head files while they
    * are fully past-budget, then rewrite at most one straddling file
    * without its evicted head docs. Exact for the doc cap; the byte
    * cap evicts at whole-file granularity (mongod's size cap is
    * block-granular the same way). Readers never see a partial state:
    * the rewrite commits via hidden-tmp rename before the old file
    * goes. */
  private def enforceCap(name: String, max: Long, size: Long): Unit = {
    val target = new Path(path(name))
    val f = fs
    var files = cappedFiles(name)
    def totalDocs = files.map(_._3.toLong).sum
    def totalBytes = files.map(_._4).sum
    // whole-file drops: the head file goes when removing it still
    // leaves the doc budget full, or while bytes overflow
    var dropping = true
    while (dropping && files.nonEmpty) {
      val (head, _, headCount, _) = files.head
      val dropForDocs = max > 0 && totalDocs - headCount >= max
      val dropForBytes = size > 0 && totalBytes > size
      if (dropForDocs || dropForBytes) {
        f.delete(new Path(target, head), false): Unit
        updateInferSidecar(name, Map.empty, drop = Seq(head))
        files = files.tail
      } else dropping = false
    }
    // straddling head file: rewrite without its first (over-budget)
    // docs — parse ONE file, slice by the BSON length prefixes
    if (max > 0 && totalDocs > max && files.nonEmpty) {
      val overflow = (totalDocs - max).toInt
      val (head, nanos, headCount, _) = files.head
      val in = f.open(new Path(target, head))
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](1 << 16)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
      var off = 0
      var skipped = 0
      while (skipped < overflow && off + 4 <= bytes.length) {
        val len = java.nio.ByteBuffer.wrap(bytes, off, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        off += len; skipped += 1
      }
      val keep = headCount - overflow
      val tmp = new Path(target, s".graft_tmp_cap_$nanos")
      val out = f.create(tmp, true)
      try out.write(bytes, off, bytes.length - off) finally out.close()
      // same nanos keeps the file's slot in insertion order; the new
      // count makes the name distinct. Rename-before-delete: the
      // alternative (delete first) opens a window with NO copy of the
      // surviving docs visible; this order's window shows old+new
      // together — benign for tailing (positions key on nanos+count)
      // and momentary for scans, the lesser hazard
      if (!f.rename(tmp, new Path(target, s"insert_${nanos}_$keep.bson")))
        throw new MqlException(s"cap rewrite commit failed for '$name'")
      f.delete(new Path(target, head), false): Unit
      // the rewritten head's tree re-folds from the surviving slice (in
      // hand) so the sidecar stays exact through eviction
      updateInferSidecar(name,
        Map(s"insert_${nanos}_$keep.bson" -> batchTree(bytes, off)),
        drop = Seq(head))
    }
  }

  private def viewsDir = new Path(dir, "_graft_views")
  private def viewPath(name: String): Path =
    new Path(viewsDir, s"${validName(name)}.json")

  /** Create a read-only view: `name` resolves as `pipeline` applied to
    * `viewOn` (itself a collection OR another view — mongod allows
    * chaining; a depth cap refuses cycles). The definition is one tiny
    * json file; no data is copied. Refuses when a collection or view
    * already holds the name (mongod's NamespaceExists). */
  def createView(name: String, viewOn: String, pipelineJson: String): Unit = {
    if (exists(name)) throw new MqlException(
      s"createView: a collection named '$name' exists")
    if (isView(name)) throw new MqlException(
      s"createView: a view named '$name' exists")
    // parse now: a broken pipeline should refuse at create time, not
    // at first read (mongod validates the same way)
    graft.mql.Mql.parse(pipelineJson) match {
      case org.json4s.JArray(_) => ()
      case other => throw new MqlException(
        s"createView: pipeline must be an array, got $other")
    }
    val f = fs
    f.mkdirs(viewsDir): Unit
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JObject(List(
        "viewOn" -> org.json4s.JString(viewOn),
        "pipeline" -> graft.mql.Mql.parse(pipelineJson)))))
    val out = f.create(viewPath(name), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def isView(name: String): Boolean =
    try fs.exists(viewPath(name)) catch { case _: MqlException => false }

  def dropView(name: String): Boolean = fs.delete(viewPath(name), false)

  /** (viewOn, pipeline json) of a view, if `name` is one. */
  def viewDef(name: String): Option[(String, String)] = {
    val p = viewPath(name)
    val f = fs
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    Some((node.get("viewOn").asText(), node.get("pipeline").toString))
  }

  def views(): Seq[String] = {
    val f = fs
    if (!f.exists(viewsDir)) return Seq.empty
    f.listStatus(viewsDir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.dropRight(5)).sorted
  }

  /** [[read]] with view resolution: a view name compiles its stored
    * pipeline over (recursively resolved) `viewOn`. The plan is fully
    * declarative — Catalyst sees the whole pipeline, so filters pushed
    * onto the view prune into the underlying scan. */
  def readOrView(name: String, depth: Int = 0): DataFrame = {
    if (depth > 10) throw new MqlException(
      s"view resolution too deep at '$name' (cycle?)")
    viewDef(name) match {
      case Some((on, pipe)) =>
        graft.mql.PipelineCompiler.run(readOrView(on, depth + 1), pipe,
          n => readOrView(n, depth + 1))
      case None => read(name)
    }
  }

  // ---- DDL journal: the change-history side of drop/rename ----------

  private def ddlDir = new Path(dir, "_graft_ddl")

  private def journalDdl(e: DocStore.DdlEvent): Unit = {
    val f = fs
    f.mkdirs(ddlDir): Unit
    val p = new Path(ddlDir,
      s"ddl-${System.currentTimeMillis()}-${System.nanoTime()}.json")
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject(List(
          "op" -> org.json4s.JString(e.op),
          "coll" -> org.json4s.JString(e.coll)) ++
          e.to.map(t => "to" -> (org.json4s.JString(t): org.json4s.JValue))
            .toList ++ List(
          "txn" -> org.json4s.JLong(e.txnVersion),
          "at" -> org.json4s.JLong(e.at)))))
    val out = f.create(p, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Journaled DDL for one collection, txnVersion-ordered — SCOPED TO
    * THE CURRENT INCARNATION. A drop → pruneVersions → recreate flow
    * reuses the name: without scoping, a fresh watch on the healthy
    * recreated collection would replay the OLD incarnation's journaled
    * drop + invalidate (a spurious terminal event), and the
    * resumeAfter-past-invalidate guard would refuse the new
    * incarnation's valid tokens. [[swapIn]]/[[appendRaw]] journal a
    * `create` epoch marker whenever a collection is (re)created over a
    * journaled past; events at or before the newest marker belong to
    * the previous life and are not served. The marker itself is never
    * a change event (mongod's default streams do not surface create). */
  def ddlEvents(name: String): Seq[DocStore.DdlEvent] = {
    val all = ddlAll().filter(_.coll == name)
    all.filter(_.op == "create").map(_.at).maxOption match {
      case Some(epoch) => all.filter(e => e.op != "create" && e.at >= epoch)
      case None => all.filterNot(_.op == "create")
    }
  }

  /** Journal a `create` epoch marker when `name` is being created anew
    * over a journaled past (see [[ddlEvents]]). The marker's timestamp
    * is strictly greater than every prior event's, so the epoch slice
    * is exact even within one wall-clock millisecond. */
  private def journalCreateEpoch(name: String): Unit = {
    if (!fs.exists(ddlDir)) return
    val prior = ddlAll().filter(_.coll == name)
    if (prior.isEmpty) return
    val at = math.max(System.currentTimeMillis(), prior.map(_.at).max + 1)
    journalDdl(DocStore.DdlEvent("create", name, None, 0L, at))
  }

  /** Drop EVERY live collection plus a terminal db-level event —
    * mongod's `dropDatabase`. Each collection journals its own `drop`
    * (collection-level watches see drop + invalidate as usual); the
    * `dropDatabase` journal row is what db-LEVEL watches translate to
    * their one terminal invalidate — the only invalidation a db watch
    * has (collection DDL never invalidates it). Returns the dropped
    * collection names. */
  def dropDatabase(): Seq[String] = {
    val cols = collections()
    cols.foreach(c => drop(c): Unit)
    // past every per-collection event any db-watch token could carry
    val maxTxn = (ddlAll().map(_.txnVersion) ++
      cols.flatMap(c => versions(c).lastOption) :+ 0L).max
    journalDdl(DocStore.DdlEvent("dropDatabase", "*", None, maxTxn + 2,
      System.currentTimeMillis()))
    cols
  }

  /** Every journaled DDL event in the store, txnVersion-then-time
    * ordered. O(DDL count) — drop/rename are rare, the journal is one
    * tiny file per event, and no data is read. */
  def ddlAll(): Seq[DocStore.DdlEvent] = {
    val f = fs
    if (!f.exists(ddlDir)) return Seq.empty
    f.listStatus(ddlDir).toSeq.filter(_.getPath.getName.startsWith("ddl-"))
      .map { st =>
        val in = f.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        DocStore.DdlEvent(n.get("op").asText(), n.get("coll").asText(),
          Option(n.get("to")).filterNot(_.isNull).map(_.asText()),
          n.get("txn").asLong(), n.get("at").asLong())
      }.sortBy(e => (e.txnVersion, e.at))
  }

  /** Every commit tag currently on the collection. */
  def listTags(name: String): Map[String, String] = {
    val p = new Path(path(name))
    val f = fs
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_graft_tag_"))
      .map(_.stripPrefix("_graft_tag_"))
      .flatMap(k => readTag(name, k).map(k -> _)).toMap
  }

  /** Small-file compaction — Mongo's `compact` command in file-layout
    * form (and the OPTIMIZE verb every streaming-ingest table needs):
    * rewrite the collection into `filesPerPartition` files per hive
    * partition (total files for unpartitioned collections). Rows,
    * schema, the partition layout, and existing commit tags (batchId…)
    * all survive the rewrite — compaction must be invisible to readers
    * and to the exactly-once replay protocol. Partitioned layouts
    * hash-cluster on the partition columns so each partition's rows
    * land in one task; both paths go through the staged swap, so a
    * crash mid-compact leaves the old files intact. */
  def compact(name: String, filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    import org.apache.spark.sql.functions.{col, pmod, spark_partition_id}
    val tags = listTags(name)
    val df = read(name)
    val parts = partitionColumnsOf(name)
    if (parts.isEmpty) write(df.coalesce(filesPerPartition), name, tags)
    else {
      val keys =
        if (filesPerPartition == 1) parts.map(col)
        else parts.map(col) :+ pmod(spark_partition_id(),
          org.apache.spark.sql.functions.lit(filesPerPartition))
      overwritePartitions(df.repartition(keys: _*), name, parts, tags)
    }
  }

  /** The tag value committed with the collection's current contents. */
  /** Write or overwrite ONE commit tag after the fact — the staging /
    * memoization protocol ([[graft.queries.Staging]]): written only
    * after a successful build, so tag presence certifies a COMPLETE
    * memoized artifact (a crash mid-build leaves no tag and the next
    * run rebuilds). Normal data writes should pass `tags` to [[write]]
    * for the atomic commit instead. */
  def writeTag(name: String, key: String, value: String): Unit = {
    val out = fs.create(tagPath(name, key), true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  def readTag(name: String, key: String): Option[String] = {
    val p = tagPath(name, key)
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  // ---- versioning / time travel -------------------------------------------
  // Dataset reproducibility for training pipelines: a curation run that
  // replaced a collection can still be audited, diffed, and re-trained
  // against. Versions are RETIRED snapshots: writeVersioned moves the
  // current dataset (a directory POINTER rename, O(1) in data — never a
  // copy, so it holds at 100 TB) into `.graft_versions/<name>/v<N>`
  // before the staged swap brings the new contents in; commit tags ride
  // inside the moved directory, so a version keeps the exact tag state
  // it was committed with. Version ids are monotonically increasing and
  // never reused (restore retires the current contents under a FRESH
  // id). Crash window: between the retire-rename and the swap the
  // collection is briefly absent while the newest version holds its
  // contents — `restore(name, versions(name).last)` recovers; data is
  // never in a half-written state (both moves are renames). In-place
  // partition folds (overwritePartitions) deliberately do NOT
  // auto-version: snapshots are a whole-collection-replacement concept,
  // and moving the collection per partition fold would defeat the
  // fold's O(batch) locality.

  private def versionsDir(name: String): Path =
    new Path(s"$dir/.graft_versions/${validName(name)}")

  private def versionPath(name: String, v: Long): Path =
    new Path(versionsDir(name),
      if (format == "parquet") s"v$v.parquet" else s"v$v")

  /** Retired version ids of a collection, ascending. */
  def versions(name: String): Seq[Long] = {
    val d = versionsDir(name)
    val f = fs
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .map(_.stripPrefix("v").stripSuffix(".parquet"))
      .flatMap(_.toLongOption).sorted
  }

  /** Time travel: the collection's contents as of retired version `v`. */
  def readVersion(name: String, v: Long): DataFrame = {
    val p = versionPath(name, v)
    if (!fs.exists(p))
      throw new MqlException(s"no version $v of collection '$name'")
    readAt(p.toString)
  }

  /** A write that would CREATE a collection over a dropped one's
    * surviving snapshots would silently adopt that history — readAsOf/
    * readVersion/restore then serve the dead collection's data as the
    * new one's past (the hazard rename() already guards). Creating is
    * only legal once the history is restored or pruned; REPLACING an
    * existing collection with history is the normal versioned flow. */
  private def requireNoDeadHistory(name: String): Unit =
    if (!exists(name) && versions(name).nonEmpty)
      throw new MqlException(
        s"collection '$name' was dropped but retired versions survive; " +
          "restore(...) or pruneVersions(...) before writing a new " +
          "collection under this name")

  /** Move the live dataset into the version directory under a fresh id;
    * returns that id (the caller then installs new contents). A
    * `_graft_retired_at` marker (epoch ms; `_`-prefixed so both layouts
    * skip it as data) records WHEN the snapshot stopped being live —
    * the anchor `TIMESTAMP AS OF` resolution needs, since a rename
    * preserves the directory's own mtime. Written after the rename: a
    * crash in between leaves a version without a timestamp, which
    * timestamp resolution reports loudly rather than guessing. */
  private def retire(name: String): Long = {
    val f = fs
    f.mkdirs(versionsDir(name))
    // version ids never reuse even after pruning: a persisted
    // high-water mark outlives deleted version dirs, so an externally
    // recorded "run X trained on corpus v3" can never silently resolve
    // to different data
    val hwmPath = new Path(versionsDir(name), "_hwm")
    val hwm = if (!f.exists(hwmPath)) 0L else {
      val in = f.open(hwmPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .trim.toLongOption.getOrElse(0L)
      finally in.close()
    }
    val v = math.max(versions(name).lastOption.getOrElse(0L), hwm) + 1
    val hOut = f.create(hwmPath, true)
    try hOut.write(v.toString.getBytes("UTF-8")) finally hOut.close()
    if (!f.rename(new Path(path(name)), versionPath(name, v)))
      throw new MqlException(s"could not retire version $v of '$name'")
    val out = f.create(new Path(versionPath(name, v), "_graft_retired_at"), true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
    v
  }

  /** The collection as of epoch-ms instant `tMs` — the Scala-API mirror
    * of SQL `TIMESTAMP AS OF` (GraftCatalog.loadTable): the earliest
    * retired version whose retired-at marker is after `tMs`, else the
    * live dataset. A version missing its marker fails loudly rather
    * than guessing. */
  def readAsOf(name: String, tMs: Long): DataFrame =
    versions(name).find { v =>
      retiredAt(name, v).getOrElse(throw new MqlException(
        s"version $v of '$name' has no retired-at marker")) > tMs
    } match {
      case Some(v) => readVersion(name, v)
      case None => read(name)
    }

  /** Epoch-ms instant at which version `v` stopped being live (None for
    * versions retired by a pre-marker writer or a crash mid-retire). */
  def retiredAt(name: String, v: Long): Option[Long] = {
    val p = new Path(versionPath(name, v), "_graft_retired_at")
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.toLongOption
      finally in.close()
    }
  }

  /** [[write]] that RETAINS the replaced contents as a new retired
    * version (pointer move, never a copy). Returns the retired
    * version's id, or 0 when the collection did not exist yet.
    *
    * Order matters: the new contents are FULLY STAGED before the live
    * dataset retires, so `df` may be derived from the collection being
    * replaced (`writeVersioned(store.read(name).where(...), name)` —
    * the natural curation-run pattern). Retiring first would yank the
    * scan's input mid-write and leave the collection absent on
    * failure. */
  def writeVersioned(df: DataFrame, name: String,
                     tags: Map[String, String] = Map.empty): Long = {
    requireNoDeadHistory(name)
    val stage = stageContents(df, name, tags, Seq.empty)
    try {
      val retired = if (exists(name)) retire(name) else 0L
      swapIn(stage, name)
      retired
    } finally { if (fs.exists(stage)) fs.delete(stage, true): Unit }
  }

  /** Roll the collection back to retired version `v`: the current
    * contents retire under a fresh id (nothing is lost — a bad restore
    * is itself restorable), then `v`'s directory moves into place as
    * the live dataset. Two pointer renames, O(1) in data. `v` leaves
    * the retired list — it IS the collection now. */
  def restore(name: String, v: Long): Long = {
    val src = versionPath(name, v)
    if (!fs.exists(src))
      throw new MqlException(s"no version $v of collection '$name'")
    val retired = if (exists(name)) retire(name) else 0L
    if (!fs.rename(src, new Path(path(name))))
      throw new MqlException(s"could not restore version $v of '$name'")
    // the restored dir carries the RETIRED-AT marker of its former life;
    // a live dataset must not have one — a later crash mid-retire would
    // otherwise leave the STALE timestamp looking authoritative where
    // the missing-marker case is designed to fail loudly
    fs.delete(new Path(path(name), "_graft_retired_at"), false): Unit
    retired
  }

  /** Audit diff between two snapshots of a collection — what a curation
    * run actually changed: multiset row counts added / removed / kept
    * going from version `va` to `vb` (`vb = None` compares against the
    * LIVE dataset). Distributed: schemas are aligned by name (a column
    * only one side has reads as null on the other — schema widening
    * diffs as a row change, honestly), each side is hash-aggregated to
    * (row, multiplicity) once, and one equi-join on the full row
    * computes the multiset difference — two shuffles, no driver-side
    * row handling, no O(n²). */
  def diffVersions(name: String, va: Long, vb: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(name, va)
    val b = vb.map(readVersion(name, _)).getOrElse(read(name))
    val cols = (a.columns ++ b.columns).distinct.sorted
    // canonical row key: JSON of the name-aligned struct. Null-SAFE by
    // construction (a grouping/join on the raw columns would split
    // null-valued rows across the full outer join, since null ≠ null
    // in an equi-join) and consistent across both sides because both
    // render through the same engine and the same aligned schema (null
    // omission therefore cannot diverge between sides). Two JSON-text
    // hazards are canonicalized per column first: top-level MAP columns
    // sort their entries (semantically-equal maps otherwise render in
    // different key order and misreport kept rows as added+removed) and
    // top-level BINARY renders as hex. Supported diff column types:
    // atomics, structs, arrays, top-level maps/binary — a map or binary
    // NESTED inside a struct/array is outside the audit contract and
    // refused loudly rather than silently misdiffed.
    def hasNested(dt: org.apache.spark.sql.types.DataType, top: Boolean): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case s: StructType  => s.fields.exists(f => hasNested(f.dataType, top = false))
        case ar: ArrayType  => hasNested(ar.elementType, top = false)
        case m: MapType     => !top || hasNested(m.keyType, top = false) ||
                               hasNested(m.valueType, top = false)
        case BinaryType     => !top
        case _              => false
      }
    }
    def keyed(df: DataFrame) = df.select(to_json(struct(cols.map { c =>
      if (!df.columns.contains(c)) lit(null).as(c)
      else {
        val dt = df.schema(c).dataType
        if (hasNested(dt, top = true))
          throw new MqlException(s"diffVersions: column '$c' " +
            s"(${dt.simpleString}) nests a map/binary — not canonicalizable " +
            "for an exact multiset diff")
        dt match {
          case _: org.apache.spark.sql.types.MapType =>
            array_sort(map_entries(col(c))).as(c)
          case org.apache.spark.sql.types.BinaryType => hex(col(c)).as(c)
          case _ => col(c).as(c)
        }
      }
    }: _*)).as("__row"))
    val ka = keyed(a).groupBy("__row").agg(count(lit(1)).as("__na"))
    val kb = keyed(b).groupBy("__row").agg(count(lit(1)).as("__nb"))
    val j = ka.join(kb, Seq("__row"), "full_outer")
      .select(coalesce(col("__na"), lit(0L)).as("na"),
        coalesce(col("__nb"), lit(0L)).as("nb"))
      .select(sum(when(col("nb") > col("na"), col("nb") - col("na"))
          .otherwise(0L)).as("added"),
        sum(when(col("na") > col("nb"), col("na") - col("nb"))
          .otherwise(0L)).as("removed"),
        sum(least(col("na"), col("nb"))).as("kept"))
    j.select(explode(map(
        lit("added"), col("added"), lit("removed"), col("removed"),
        lit("kept"), col("kept"))).as(Seq("change", "n_rows")))
      .select(col("change"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
  }

  /** Replay a versioned collection's history as CHANGE DOCUMENTS — the
    * update/delete/replace surface of a Mongo change stream, recovered
    * from retained snapshots (`fullDocument: updateLookup` comes free:
    * snapshots ARE after-images, and the before-image rides along as
    * `fullDocumentBeforeChange`, Mongo 6.0's pre-image option).
    *
    * For each consecutive snapshot pair (v₁→v₂, …, v_k→live), rows are
    * keyed by `idCol` (the `_id` contract: unique per snapshot) and
    * diffed with one full-outer equi-join per transition:
    *   - key only in the newer snapshot  → `insert`
    *   - key only in the older snapshot  → `delete` (fullDocument null)
    *   - key in both, any column differs → `update`, with
    *     `updatedFields` naming the changed top-level columns
    * Unchanged rows emit nothing. `txnVersion` orders transitions (the
    * clusterTime analogue: the version id the transition produced, the
    * live dataset being max+1). Distributed: k bounded equi-joins, no
    * driver rows; snapshots must share one schema (schema evolution
    * between snapshots refuses loudly — diff columns pairwise needs
    * aligned types). */
  def changeEvents(name: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val vs = versions(name)
    // a collection written once but never updated has no retired
    // versions — a watch opened on it must IDLE (mongod semantics),
    // not refuse: diff the live snapshot against itself (zero rows,
    // correct change-document schema) so streaming triggers succeed.
    // A DROPPED collection (live gone, history retained) replays the
    // retained transitions only — its terminal drop/invalidate events
    // come from the DDL journal, not a per-document delete storm.
    val live = this.exists(name)
    val snaps: Seq[(Long, DataFrame)] =
      if (vs.isEmpty && live) { val l = read(name).limit(0)
        Seq(0L -> l, 1L -> l) }
      else if (vs.isEmpty) throw new MqlException(
        s"changeEvents: no collection '$name'")
      else if (live) vs.map(v => v -> readVersion(name, v)) :+
        ((vs.last + 1) -> read(name))
      else if (vs.length == 1) { val s = readVersion(name, vs.head).limit(0)
        Seq(0L -> s, 1L -> s) }
      else vs.map(v => v -> readVersion(name, v))
    val schema0 = snaps.head._2.schema
    snaps.tail.foreach { case (v, df) =>
      if (df.schema.map(f => (f.name, f.dataType)) !=
          schema0.map(f => (f.name, f.dataType)))
        throw new MqlException(
          s"changeEvents: schema of '$name' changed at version $v — " +
            "pairwise column diff needs one schema across snapshots")
    }
    val dataCols = schema0.fieldNames.toSeq
    require(dataCols.contains(idCol), s"changeEvents: no id column '$idCol'")
    val steps = snaps.sliding(2).map { case Seq((_, a), (vb, b)) =>
      val left = a.select(col(idCol).as("__id"), struct(dataCols.map(col): _*).as("__before"))
      val right = b.select(col(idCol).as("__id"), struct(dataCols.map(col): _*).as("__after"))
      val j = left.join(right, Seq("__id"), "full_outer")
      val changed = dataCols.filter(_ != idCol).map(c =>
        when(!(col(s"__before.$c") <=> col(s"__after.$c")), lit(c)))
      val updatedFields =
        if (changed.isEmpty) array().cast("array<string>")
        else filter(array(changed: _*), x => x.isNotNull)
      j.select(
        when(col("__before").isNull, lit("insert"))
          .when(col("__after").isNull, lit("delete"))
          .otherwise(lit("update")).as("operationType"),
        col("__id").as("documentKey"),
        col("__after").as("fullDocument"),
        col("__before").as("fullDocumentBeforeChange"),
        when(col("__before").isNotNull && col("__after").isNotNull, updatedFields)
          .as("updatedFields"),
        lit(vb).as("txnVersion"))
        .where(col("operationType") =!= "update" || size(col("updatedFields")) > 0)
    }.toSeq
    steps.reduce(_ unionByName _)
  }

  /** Fingerprint of everything a change stream on `name` can observe:
    * the live [[contentStamp]], the retired version ids, and the DDL
    * journal's file listing. Equal signatures ⇒ [[changeEvents]] +
    * [[ddlEvents]] would return identical results — retired snapshots
    * are immutable, every live mutation moves the contentStamp (all
    * commits land via rename), and every DDL event is one new journal
    * file. O(files) driver-side metadata, no data read: what lets the
    * wire server reuse a change-stream frame between awaitData polls
    * and rebuild it the instant any write, append, or DDL lands. */
  def changeSignature(name: String): String =
    contentStamp(name) + "|" + versions(name).mkString(",") + "|" +
      ddlJournalStamp

  /** The DDL journal's file-name listing (one unique file per event). */
  def ddlJournalStamp: String = {
    val f = fs
    if (!f.exists(ddlDir)) ""
    else f.listStatus(ddlDir).map(_.getPath.getName).sorted.mkString(",")
  }

  /** Delete retired versions beyond the newest `keepLast` (the storage
    * bound every snapshot scheme needs). Returns how many were
    * deleted. */
  def pruneVersions(name: String, keepLast: Int): Int = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val drop = versions(name).dropRight(keepLast)
    val f = fs
    drop.count(v => f.delete(versionPath(name, v), true))
  }

  /** [[read]] generalized to any dataset directory (live or retired). */
  private def readAt(p: String): DataFrame =
    if (format == "parquet") spark.read.parquet(p)
    else {
      val side = new Path(p, "_graft_schema.json")
      val f = fs
      val reader = spark.read.format("graftdocs")
      val withSchema =
        if (f.exists(side)) {
          val in = f.open(side)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close()
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
          reader.schema(org.apache.spark.sql.types.DataType
            .fromJson(node.get("schema").toString)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        } else reader
      withSchema.load(p)
    }

  /** Append a raw graftdocs batch file (concatenated BSON documents)
    * to a collection IN PLACE — the mongod-append twin behind the wire
    * `insert` command. NO Spark job runs here: the bytes land as one
    * new batch file through a hidden-rename commit (readers never see
    * a partial file), visible to the next read immediately. Collections
    * with a declared `_graft_schema.json` decode the new file under
    * that schema (unknown incoming fields are not projected — use
    * [[write]] to widen a schema); append-created collections read by
    * inference. graftdocs layouts only, and not for hive-partitioned
    * collections (the file lands at the collection root). */
  def appendRaw(name: String, docs: Array[Byte]): Unit = {
    require(format != "parquet", "appendRaw needs a graftdocs layout")
    require(docs.nonEmpty, "appendRaw with an empty batch")
    requireNoDeadHistory(name)
    val target = new Path(path(name))
    val f = fs
    if (!f.exists(target)) {
      // append-created collection over a journaled past: fresh epoch
      journalCreateEpoch(name)
      f.mkdirs(target): Unit
    }
    val nanos = System.nanoTime()
    val tmp = new Path(target, s".graft_tmp_insert_$nanos")
    val out = f.create(tmp, true)
    try out.write(docs) finally out.close()
    cappedSpec(name) match {
      case Some((max, size)) =>
        // capped: the doc count rides in the file name (enforcement
        // and tail positions never re-parse history), counted here by
        // walking the in-memory batch's BSON length prefixes
        var off = 0; var count = 0
        while (off + 4 <= docs.length) {
          val len = java.nio.ByteBuffer.wrap(docs, off, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          require(len > 4 && off + len <= docs.length,
            s"appendRaw: corrupt BSON batch at offset $off")
          off += len; count += 1
        }
        val fname = s"insert_${nanos}_$count.bson"
        if (!f.rename(tmp, new Path(target, fname)))
          throw new IllegalStateException(s"append commit failed for '$name'")
        capMonitor(name).synchronized {
          updateInferSidecar(name, Map(fname -> batchTree(docs)))
          enforceCap(name, max, size)
        }
      case None =>
        val fname = s"insert_$nanos.bson"
        if (!f.rename(tmp, new Path(target, fname)))
          throw new IllegalStateException(s"append commit failed for '$name'")
        capMonitor(name).synchronized {
          updateInferSidecar(name, Map(fname -> batchTree(docs)))
        }
    }
  }

  // eviction is read-modify-write over the head file: serialize per
  // collection within this JVM (the wire server is the store's single
  // writer; two servers on one dir is outside the contract)
  private val capMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def capMonitor(name: String): Object =
    capMonitors.computeIfAbsent(name, _ => new Object)

  /** Write `df` as collection `name`, replacing any prior contents via
    * the staged swap described above. `tags` are committed atomically
    * with the contents (see [[readTag]]). A non-empty `partitionBy`
    * (graftdocs only) writes the hive layout INSIDE the single swap —
    * the whole-collection-atomic counterpart of [[overwritePartitions]]
    * for rewrites that move rows BETWEEN partitions (epoch compaction),
    * where per-leaf swaps would expose a duplicated-rows crash window. */
  def write(df: DataFrame, name: String,
            tags: Map[String, String] = Map.empty,
            partitionBy: Seq[String] = Seq.empty): Unit = {
    if (cappedSpec(name).isDefined) throw new MqlException(
      s"cannot rewrite capped collection '$name' (mongod capped " +
        "collections refuse updates/deletes/replacement; drop it first)")
    requireNoDeadHistory(name)
    val stage = stageContents(df, name, tags, partitionBy)
    try {
      // a `versioned` store retains every replaced collection as a
      // retired snapshot — which makes EVERY write path history-keeping
      // for free: an MQL `$out`, a `$merge` fold, a streaming
      // micro-batch merge. Stage-first, so the frame may derive from
      // the collection being replaced; retire is a pointer move.
      if (versioned && exists(name)) retire(name): Unit
      swapIn(stage, name)
    } finally { if (fs.exists(stage)) fs.delete(stage, true): Unit }
  }

  /** Fully materialize `df` (data + sidecar + tags) into a hidden stage
    * directory, ready for an atomic swap. Runs the whole scan while the
    * LIVE dataset is untouched — which is what lets `df` be derived
    * from the very collection being replaced. */
  private def stageContents(df: DataFrame, name: String,
                            tags: Map[String, String],
                            partitionBy: Seq[String]): Path = {
    val stage = new Path(s"$dir/.graft_stage_${validName(name)}_${System.nanoTime()}")
    if (format == "parquet") {
      require(partitionBy.isEmpty, "partitionBy needs graftdocs layout")
      df.write.mode("overwrite").parquet(stage.toString)
    } else {
      val w = df.write.format("graftdocs")
      (if (partitionBy.isEmpty) w
       else w.option("partitionby", partitionBy.mkString(",")))
        .mode("overwrite").save(stage.toString)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      root.set[com.fasterxml.jackson.databind.JsonNode]("schema",
        mapper.readTree(df.schema.json))
      val opts = root.putObject("options")
      if (partitionBy.nonEmpty) opts.put("partitionby", partitionBy.mkString(","))
      val out = fs.create(new Path(stage, "_graft_schema.json"), true)
      try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    }
    tags.foreach { case (k, v) =>
      if (!k.matches("[A-Za-z0-9_-]+"))
        throw new MqlException(s"bad tag key '$k'")
      val out = fs.create(new Path(stage, s"_graft_tag_$k"), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    stage
  }

  private def swapIn(stage: Path, name: String): Unit = {
    val target = new Path(path(name))
    inferState.remove(name): Unit // cached sidecar dies with the old dir
    inferDirty.remove(name): Unit
    // crash-safe swap: the old dataset moves ASIDE (pointer rename),
    // the stage moves live, only then does the old copy die. A
    // delete-then-rename would leave a window where the stage dir is
    // the ONLY copy — and vacuum() reclaims stage dirs, so a crash
    // there plus the documented recovery step would destroy the data.
    // At every instant at least one complete copy exists outside the
    // stage namespace; vacuum() knows how to resolve an orphaned aside
    // (live present → garbage; live absent → move it back).
    val f = fs
    val aside = new Path(s"$dir/.graft_old_${validName(name)}_${System.nanoTime()}")
    val hadOld = f.exists(target)
    // a brand-new collection over a journaled past starts a fresh
    // change-history epoch (see ddlEvents)
    if (!hadOld) journalCreateEpoch(name)
    if (hadOld && !f.rename(target, aside))
      throw new MqlException(s"could not replace collection '$name'")
    if (!f.rename(stage, target)) {
      if (hadOld) f.rename(aside, target): Unit // roll back before failing
      throw new MqlException(s"could not commit collection '$name'")
    }
    if (hadOld) f.delete(aside, true): Unit
  }
}

object DocStore {
  /** One journaled DDL event: `drop` or `rename` (with the target
    * name), positioned in the collection's change history at
    * `txnVersion` — past every data event the stream could have
    * served at journal time. */
  final case class DdlEvent(op: String, coll: String, to: Option[String],
                            txnVersion: Long, at: Long)

  /** The store's FileSystem for metadata/append/commit operations. For
    * `file:` paths this is the RAW local filesystem: Hadoop's default
    * client-side ChecksumFileSystem writes (and renames, and deletes) a
    * `.crc` sidecar per file, roughly DOUBLING the filesystem-op count
    * of every append/rename-commit — measured 1.9 s vs 0.8 s for a
    * 182-batch wire-insert append loop. Distributed filesystems (hdfs,
    * s3a, …) keep their native integrity machinery — this only strips
    * the local-mode duplicate. `spark.hadoop.graft.store.localChecksums
    * =true` restores the checksummed local fs for deployments that
    * want client-side .crc files on local stores. */
  def storeFs(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem = {
    val f = p.getFileSystem(conf)
    val scheme = Option(p.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    if ((scheme == "file" || scheme == null) &&
        !conf.getBoolean("graft.store.localChecksums", false))
      f match {
        case lf: org.apache.hadoop.fs.LocalFileSystem => lf.getRaw
        case other => other
      }
    else f
  }
}
