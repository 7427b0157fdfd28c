package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured-Streaming extension (the reference is batch-only — every
  * entry point drains the cursor, api.py:204-207 — so this is the §7.6
  * extension surface, not parity): windowed aggregation with watermark
  * over the events table, runnable synchronously on the parquet fixture
  * for verification.
  */
object EventStream {
  /** Tumbling-window counts + decimal-exact value sums per event type.
    * Watermark bounds state: at 100 TB/day the state store only holds
    * windows newer than (max event time − delay). */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value").cast(DoubleType).as("sum_value"))

  /** Streaming gap-based sessions via the built-in session_window —
    * stateful streaming with watermark-bounded state (the streaming twin
    * of operators.Sessionize.byGap). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup — the streaming twin of `Dedup.exact`:
    * `dropDuplicatesWithinWatermark` keeps one state entry per key only
    * within the watermark horizon, so state stays bounded on an
    * unbounded stream (a plain dropDuplicates would grow forever).
    * Emits each distinct key once (append semantics). */
  def dedupKeys(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("user_id"), col("event_type"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

  /** Stream-stream interval join — the streaming attribution/enrichment
    * primitive (e.g. purchase events joined to the click that preceded
    * them): two watermarked streams equi-joined on user with a bounded
    * event-time band (right.ts ∈ [left.ts, left.ts + `within`]). The
    * time bound plus both watermarks let Spark expire join state — an
    * unbounded-state stream-stream join is refused by the engine, so
    * this is THE scalable shape: state per side ≈ watermark horizon ×
    * arrival rate, independent of stream length. */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
                   within: String = "10 minutes",
                   watermarkDelay: String = "30 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = events.where(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermarkDelay)
    val r = events.where(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermarkDelay)
    // left_outer: matches emit as found; an UNMATCHED left row emits
    // null-joined only once the watermark proves no match can still
    // arrive (global watermark > l_ts + within) — the state-eviction
    // contract that keeps outer-join state bounded at stream scale
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      joinType)
      .select(col("l_id"), col("r_id"), col("user_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("lag_us"))
  }

  /** Stream-stream interval join over the fixture (append mode — joins
    * emit rows as watermarks close the band). */
  def runIntervalJoinOnFixture(spark: SparkSession, dir: String,
                               leftType: String = "click",
                               rightType: String = "purchase",
                               within: String = "10 minutes",
                               joinType: String = "inner"): DataFrame =
    runStream(spark, dir,
      intervalJoin(_, leftType, rightType, within, joinType = joinType),
      outputMode = "append")

  /** Per-user running aggregates via flatMapGroupsWithState — the
    * custom-state primitive for logic the built-in windowed/session
    * aggregations can't express (arbitrary per-key accumulators,
    * conditional emission). Update mode: each micro-batch emits the
    * refreshed state for every key it touched, so the latest row per
    * key is the cumulative view. State is one fixed-size row per key —
    * at 100 TB/day the bound is key cardinality, not stream length;
    * for unbounded key spaces pair with a GroupStateTimeout so idle
    * keys expire. The value accumulator is decimal: the iterator order
    * inside a group depends on shuffle arrival, so a double sum would
    * be run-nondeterministic — decimal addition is order-exact (the
    * same reason windowedAgg sums through DecimalType). */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
                             value: java.math.BigDecimal)
  final case class UserState(user_id: Long, n: Long,
                             sum_value: java.math.BigDecimal,
                             last_ts: java.sql.Timestamp)

  def runningUserStats(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserState] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[UserEvent], state: GroupState[UserState]) => {
          val prev = state.getOption.getOrElse(
            UserState(key, 0L, java.math.BigDecimal.ZERO, null))
          var n = prev.n; var s = prev.sum_value; var last = prev.last_ts
          it.foreach { e =>
            n += 1
            if (e.value != null) s = s.add(e.value)
            if (last == null || e.ts.after(last)) last = e.ts
          }
          val next = UserState(key, n, s, last)
          state.update(next)
          Iterator.single(next)
        })
  }

  /** Run the per-key running aggregate synchronously over the parquet
    * fixture and fold the update-mode emissions to the final cumulative
    * row per user (n is strictly increasing per key, so max-by-n IS the
    * last emission). Values go through DECIMAL(18,4) before the state
    * accumulator — the windowedAgg parity convention, so the result
    * hash-matches a batch GROUP BY twin exactly. */
  def runRunningStatsOnFixture(spark: SparkSession, dir: String): DataFrame = {
    val updates = runStream(spark, dir, ev => {
      import ev.sparkSession.implicits._
      runningUserStats(ev
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
          col("value").cast(DecimalType(18, 4)).as("value"))
        .as[UserEvent]).toDF()
    }, outputMode = "update")
    updates.groupBy("user_id")
      .agg(max(struct(col("n"), col("sum_value"), col("last_ts"))).as("s"))
      .select(col("user_id"), col("s.n").as("n"),
        col("s.sum_value").cast(DoubleType).as("sum_value"),
        col("s.last_ts").as("last_ts"))
  }

  /** Streaming ingest through the graftdocs document sink over the
    * fixture, then read the sink back through the SAME DSv2 source —
    * the write→read round trip of the continuous-ingest loop, runnable
    * under the correctness gate (ts stays out of the projection: the
    * extended-JSON $date encoding is millisecond-grained by design,
    * DocWriter.jsonValue). The sink directory is per-run scratch under
    * java.io.tmpdir. */
  def runDocSinkOnFixture(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Staging.scratch("graft_docsink").toString
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val name = s"graft_docsink_${System.nanoTime()}"
    val prevNanos = saveNanosFlag(spark)
    val ev = eventsSource(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = writeToDocSink(ev, out)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      restoreNanosFlag(spark, prevNanos)
      if (q != null) q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    spark.read.format("graftdocs")
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .load(out)
  }

  /** Streaming ingest into the document sink: each micro-batch appends
    * to `path` through the graftdocs DSv2 write (staged-file commit, so
    * a failed batch leaves no partial output) with EXACTLY-ONCE
    * permanent state under foreachBatch's at-least-once replay:
    *  - each batch writes under a deterministic per-batch file token
    *    (`jobtoken`), so its final file names are replay-stable;
    *  - a marker file commits the batch; a replay that sees the marker
    *    skips, and a replay that does NOT first deletes the token's
    *    files (a crashed attempt's partial commit) and rewrites them.
    * The one transient window: data committed but the marker not yet
    * written when the crash hit — readers see that batch's rows until
    * the replay cleans and rewrites them (then state is exact). This is
    * the standard file-sink guarantee when foreign readers don't honor
    * a commit log. Same write path (batching limits, auto-convert,
    * schema validation) as the batch writer. */
  def writeToDocSink(events: DataFrame, path: String,
                     format: String = "jsonl")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) => sinkBatch(batch, batchId, path, format)
    }

  /** One idempotent doc-sink micro-batch (see [[writeToDocSink]]);
    * package-visible so specs can replay it directly. */
  private[streaming] def sinkBatch(batch: DataFrame, batchId: Long,
                                   path: String, format: String): Unit = {
    val token = f"sb$batchId%08d"
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = graft.sinks.DocStore.storeFs(dir,
      batch.sparkSession.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, s"._graft_sink_$token")
    if (!fs.exists(marker)) {
      if (fs.exists(dir)) {
        // a crashed attempt's files (staged or committed) for THIS
        // batch id — remove before rewriting, so replays converge
        val it = fs.listFiles(dir, true)
        while (it.hasNext) {
          val p = it.next().getPath
          val n = p.getName
          if (n.startsWith(s"part-$token-") || n.startsWith(s".part-$token-"))
            fs.delete(p, false): Unit
        }
      }
      batch.write.format("graftdocs").option("format", format)
        .option("jobtoken", token).mode("append").save(path)
      fs.create(marker, true).close()
    }
  }

  /** Continuous materialized view: maintain a [[graft.sinks.DocStore]]
    * collection by running an MQL pipeline ENDING IN `$merge` over each
    * micro-batch (foreachBatch → PipelineCompiler.runWithWrites). The
    * canonical shape is a per-batch `$group` whose whenMatched update
    * pipeline folds the batch partial into the standing collection
    * (`{$set: {n: {$add: ["$n", "$$new.n"]}, …}}`) — incremental
    * aggregation whose state lives in the COLLECTION, not the state
    * store, so it survives restarts, is queryable mid-stream, and its
    * measures must be associative+commutative (count/sum/min/max) for
    * batch-boundary independence. Each micro-batch costs one keyed
    * merge join against the current target. */
  def mergeStream(stream: DataFrame, pipeline: String,
                  store: graft.sinks.DocStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val target = graft.mql.WriteStages.pipelineTarget(pipeline).getOrElse(
      throw new graft.mql.MqlException(
        "mergeStream: pipeline must end in $out or $merge"))
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // foreachBatch is AT-LEAST-once: after a crash the engine replays
      // the last batch, and replaying an incremental fold double-counts.
      // The batchId is committed ATOMICALLY with the collection contents
      // (a tag file written into the stage dir before the swap), so a
      // replayed batch observes its own id and skips — exactly-once for
      // the collection state. Single-writer per target, like any
      // checkpointed streaming sink. Batch ids are per checkpoint
      // LINEAGE: abandoning a checkpoint over a feed that has since
      // grown means new data arrives under already-committed ids —
      // reset the target collection together with the checkpoint (the
      // normal restart path keeps both).
      val committed = store.readTag(target, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId))
        // atomicCommit: a partitioned target must commit via the single
        // staged swap — per-partition swaps write their tag last, and a
        // crash mid-commit would replay this non-idempotent fold against
        // partially-folded partitions (double-count)
        graft.mql.PipelineCompiler.runWithWrites(batch, pipeline,
          n => throw new graft.mql.MqlException(
            s"mergeStream pipeline cannot read collection '$n'"), store,
          tags = Map("batchId" -> batchId.toString),
          atomicCommit = true): Unit
    }
  }

  /** Streaming text-index maintenance: every micro-batch of documents
    * folds into the stored index (`TextIndex.update` — term dfs add,
    * summaries weighted-merge; the indexed corpus is never rescanned),
    * exactly-once via the same batchId tag committed atomically with
    * the collection swap as [[mergeStream]]. This is the live write
    * path of a search index: ingest keeps the index current, and
    * `$search`'s `index` option serves queries from it.
    *
    * LINEAGE CONTRACT (same as [[mergeStream]]): batch ids are
    * meaningful only within one checkpoint lineage. The tag makes
    * same-lineage replays (and fresh-checkpoint re-delivery of the
    * SAME feed) exactly-once; starting a FRESH checkpoint over a feed
    * that has since gained new files re-issues low batch ids for new
    * data, which the tag would skip — when abandoning a checkpoint,
    * reset the target collection too (or keep the checkpoint, which is
    * the normal restart path). */
  def indexStream(stream: DataFrame, paths: Seq[String], indexName: String,
                  store: graft.sinks.DocStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = store.readTag(indexName, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId)) {
        // reading the standing index while staging its replacement is
        // safe: DocStore writes to a stage dir and swaps after.
        // existence is checked EXPLICITLY — a catch-all around read()
        // would turn a transient read failure into "no index" and
        // silently replace the accumulated index with this one batch
        val next =
          if (store.exists(indexName))
            graft.llmops.TextIndex.update(store.read(indexName), batch, paths)
          else graft.llmops.TextIndex.build(batch, paths)
        store.write(next, indexName, tags = Map("batchId" -> batchId.toString))
      }
    }

  /** indexStream over the fixture: the even half of `documents` seeds
    * the standing index (the backfill build), the odd half streams in
    * and folds batch by batch — the final index must equal the
    * full-corpus build (q_index_merge's oracle). */
  def runIndexStreamOnFixture(spark: SparkSession, dir: String): DataFrame = {
    val store = new graft.sinks.DocStore(spark,
      graft.queries.Staging.scratch("graft_istore").toString)
    val docs = graft.api.Graft.table(spark, dir, "documents")
    store.write(graft.llmops.TextIndex.build(
      docs.where(col("doc_id") % 2 === 0), Seq("text")), "docs_idx")
    val odd = docs.where(col("doc_id") % 2 =!= 0)
    val srcPath = graft.queries.Staging.scratch("graft_istream").toString
    odd.write.format("graftdocs").mode("overwrite").save(srcPath)
    val stream = spark.readStream.format("graftdocs")
      .schema(odd.schema).load(srcPath)
    val name = s"graft_indexstream_${System.nanoTime()}"
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = indexStream(stream, Seq("text"), "docs_idx", store)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      if (q != null) q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    store.read("docs_idx")
  }

  /** Streaming ingest into the PARTITIONED vector index: each
    * micro-batch assigns against the stored (fixed) centroids and
    * rewrites only the cell partitions it touches. Exactly-once via the
    * batchId tag committed atomically with the partition swap — same
    * contract as indexStream. */
  def vecIndexStream(stream: DataFrame, indexName: String,
                     store: graft.sinks.DocStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = store.readTag(indexName, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId)) {
        graft.llmops.Similarity.foldIvfPartitionedBatch(store, indexName,
          batch, tags = Map("batchId" -> batchId.toString))
      }
    }

  /** vecIndexStream over the fixture: the even half of `embeddings`
    * seeds the partitioned IVF layout (portable seeds, so the oracle
    * can re-derive the centroids), the odd half streams in and folds
    * cell-partition-scoped — the final layout must equal assigning the
    * WHOLE corpus against the seed centroids. */
  def runVecIndexStreamOnFixture(spark: SparkSession, dir: String,
                                 into: Option[graft.sinks.DocStore] = None)
      : DataFrame = {
    // `into`: a caller-provided (memoized) store — the gate's staging
    // protocol; default stays a throwaway temp store
    val store = into.getOrElse(new graft.sinks.DocStore(spark,
      graft.queries.Staging.scratch("graft_vstore").toString,
      "graftdocs"))
    val emb = graft.api.Graft.table(spark, dir, "embeddings")
    val idx = graft.llmops.Similarity.buildIvf(
      emb.where(col("vec_id") % 2 === 0), nCells = 4, lloydIters = 0,
      persistIndex = false, portableSeed = true)
    graft.llmops.Similarity.writeIvfPartitioned(store, idx, "vecs")
    // the doc codec carries doubles, not floats — widen before staging
    val odd = emb.where(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val srcPath = graft.queries.Staging.scratch("graft_vstream").toString
    odd.write.format("graftdocs").mode("overwrite").save(srcPath)
    val stream = spark.readStream.format("graftdocs")
      .schema(odd.schema).load(srcPath)
    val name = s"graft_vecstream_${System.nanoTime()}"
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = vecIndexStream(stream, "vecs", store)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      if (q != null) q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    store.read("vecs")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(col("vnorm"), 6).as("vnorm"))
  }

  /** Streaming near-dup ingest: each micro-batch is near-dedup'd against
    * the STANDING NearDupIndex (equi-join on the batch's own band
    * buckets — history never rescans), survivors fold into the index
    * (`update(build(A), B) ≡ build(A ∪ B)`, so the index never
    * rebuilds). Exactly-once via the batchId tag committed atomically
    * with the DocStore swap — the contract shared with indexStream /
    * vecIndexStream. This is the arriving-crawl-shard loop run
    * continuously. */
  def nearDupStream(stream: DataFrame, idCol: String, textCol: String,
                    indexName: String, store: graft.sinks.DocStore,
                    threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = store.readTag(indexName, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId)) {
        // caller-side persist with EXPLICIT release before the batch
        // function returns (the leak the no-persist rule in queryBatch
        // guards against): queryBatch consumes the index three times
        // (geometry, band side, doc side) and update once more — one
        // decode instead of four
        val idx = store.read(indexName).persist()
        try {
          val dupIds = graft.llmops.NearDupIndex
            .queryBatch(idx, batch, idCol, textCol, threshold)
            .select(col("fresh_id").as(idCol)).distinct()
          val keep = batch.join(dupIds, Seq(idCol), "left_anti")
          store.write(graft.llmops.NearDupIndex.update(idx, keep, idCol, textCol),
            indexName, tags = Map("batchId" -> batchId.toString))
        } finally idx.unpersist(false)
      }
    }

  /** [[nearDupStream]] in the EPOCH-PARTITIONED index layout — the
    * at-scale fold: per micro-batch the survivors' band/doc rows land
    * as partition `epoch=batchId+1` ONLY (the per-partition staged
    * swap), so a year of hourly crawl folds writes O(|batch|) each and
    * every prior epoch's files stay byte-identical — where the
    * single-collection form rewrites the whole index per batch.
    *
    * Replay protection is idempotence, not just the tag: the query
    * side EXCLUDES the batch's own epoch partition, so a replay after
    * a crash between the partition swap and the tag write sees exactly
    * the pre-crash index, recomputes the identical survivor set, and
    * replaces the partial commit with the same rows (at-least-once
    * with deterministic content — the partitioned twin of the
    * single-swap tag's exactly-once). The tag still short-circuits
    * clean replays. */
  def nearDupStreamPartitioned(stream: DataFrame, idCol: String,
                               textCol: String, indexName: String,
                               store: graft.sinks.DocStore,
                               threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = store.readTag(indexName, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId)) {
        val epoch = batchId + 1
        // persist-with-release, same rationale as nearDupStream above
        val idx = store.read(indexName)
          .where(col(graft.llmops.NearDupIndex.EpochCol) =!= epoch.toString)
          .persist()
        try {
          val dupIds = graft.llmops.NearDupIndex
            .queryBatch(idx, batch, idCol, textCol, threshold)
            .select(col("fresh_id").as(idCol)).distinct()
          val keep = batch.join(dupIds, Seq(idCol), "left_anti")
          graft.llmops.NearDupIndex.foldPartitionedBatch(store, indexName,
            keep, epoch, idCol, textCol,
            tags = Map("batchId" -> batchId.toString))
        } finally idx.unpersist(false)
      }
    }

  /** Streaming maintenance of the merge-on-read line-frequency index
    * ([[graft.llmops.LineFreqIndex]]): each micro-batch folds its own
    * per-epoch delta partition — O(batch) written, history untouched,
    * replay-idempotent by construction (re-folding an epoch replaces
    * identical rows; the batchId tag short-circuits clean replays).
    * The continuously-maintained boilerplate state behind line-level
    * dedup of an arriving crawl. */
  def lineFreqStream(stream: DataFrame, idCol: String, textCol: String,
                     indexName: String, store: graft.sinks.DocStore,
                     sep: String = "\n")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = store.readTag(indexName, "batchId").map(_.toLong)
      if (!committed.exists(_ >= batchId)) {
        graft.llmops.LineFreqIndex.foldBatch(store, indexName, batch,
          batchId + 1, idCol, textCol, sep,
          tags = Map("batchId" -> batchId.toString))
      }
    }

  /** nearDupStream over the fixture: history (doc_id % 5 ≠ 0) seeds the
    * band index, the % 5 = 0 shard streams in, near-dups drop against
    * history, survivors fold. Returns per-source counts of the FINAL
    * indexed id set — history plus exactly the batch survivors (the
    * oracle replays the exact-jaccard ground truth in SQL). */
  def runNearDupStreamOnFixture(spark: SparkSession, dir: String): DataFrame = {
    val store = new graft.sinks.DocStore(spark,
      graft.queries.Staging.scratch("graft_ndstore").toString)
    val docs = graft.api.Graft.table(spark, dir, "documents")
    store.write(graft.llmops.NearDupIndex.build(
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text"), "nd_idx")
    val shard = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
    val srcPath = graft.queries.Staging.scratch("graft_ndstream").toString
    shard.write.format("graftdocs").mode("overwrite").save(srcPath)
    val stream = spark.readStream.format("graftdocs")
      .schema(shard.schema).load(srcPath)
    val name = s"graft_ndstream_${System.nanoTime()}"
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = nearDupStream(stream, "doc_id", "text", "nd_idx", store)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      if (q != null) q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    store.read("nd_idx").where(col("kind") === "doc")
      .select(col("doc_id"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_indexed"))
      .orderBy("source")
  }

  /** mergeStream over the fixture: a batch `$out` backfills the standing
    * collection from half the corpus, then the stream merges the other
    * half into it — both the matched fold and the insert path execute,
    * and the final collection must equal the one-shot GROUP BY over
    * everything. (True multi-micro-batch pacing is pinned by the
    * mergeStream spec; the fixture is a single file, so forcing >1
    * batch here would mean re-laying the corpus out per run — harness
    * cost, not operator cost.) */
  def runMergeStreamOnFixture(spark: SparkSession, dir: String): DataFrame = {
    val store = new graft.sinks.DocStore(spark,
      graft.queries.Staging.scratch("graft_mstore").toString)
    // seed the standing collection from a disjoint half of the corpus
    // (the backfill), then stream the OTHER half into it — so the
    // streamed merge exercises both the matched fold and the insert
    // path, and the final collection must equal the one-shot GROUP BY
    // over everything
    def grouped(rowFilter: String) = s"""[
      {"$$match": {"ts": {"$$ne": null}, "user_id": {"$$ne": null},
                   "value": {"$$ne": null},
                   "event_id": {"$$mod": [2, $rowFilter]}}},
      {"$$group": {"_id": "$$user_id", "n": {"$$count": {}},
         "maxv": {"$$max": "$$value"}}}"""
    graft.api.Graft.aggregateTo(spark, dir, "events",
      grouped("0") + """, {"$out": "user_stats"}]""", store)
    val stream = eventsSource(spark, dir)
    val pipeline = grouped("1") + """,
      {"$merge": {"into": "user_stats", "on": "_id",
        "whenMatched": [{"$set": {
          "n": {"$add": ["$n", "$$new.n"]},
          "maxv": {"$max": ["$maxv", "$$new.maxv"]}}}],
        "whenNotMatched": "insert"}}]"""
    val name = s"graft_mergestream_${System.nanoTime()}"
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    // per-batch group + merge join are keyed by users (small): 32-way
    // shuffles would be pure per-task overhead per batch (same
    // reasoning as runStream's pin; grows with key volume at scale)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNanos = saveNanosFlag(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = mergeStream(stream, pipeline, store)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      restoreNanosFlag(spark, prevNanos)
      if (q != null) q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    store.read("user_stats")
  }

  /** Run an MQL aggregation pipeline ON A STREAM — the
    * aggregate_arrow_all surface lifted to Structured Streaming: the
    * SAME pipeline string a user runs in batch compiles (via
    * PipelineCompiler) onto an unbounded source as a continuously
    * updated materialized aggregate (complete mode). State is bounded
    * by GROUP-KEY cardinality, not stream length — the right model for
    * dashboard-style MQL aggregates over arbitrary keys; for event-time
    * windows whose state the watermark can drop, use
    * windowedAgg/sessionAgg (append mode) instead. Stages that need
    * multiple passes over the input ($graphLookup, $facet, $bucketAuto)
    * are refused by Spark's analyzer at start — by construction, not by
    * a denylist here.
    *
    * Stateless pipelines ($match/$project/$addFields/$unwind — the
    * continuous filter/transform case) run in APPEND mode instead:
    * complete mode requires an aggregate, and append is the natural
    * semantics for a row-wise stream transform. The mode is picked off
    * the compiled plan (does it aggregate?), so the caller passes the
    * same pipeline string either way. */
  def mqlOnFixture(spark: SparkSession, dir: String, pipeline: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the mode probe's eventsSource mutates the nanos flag BEFORE
    // runStream saves it — capture the true prior value out here
    val prevNanos = saveNanosFlag(spark)
    try {
      // analyze (not run) the compiled plan once to pick the output mode
      val probe = graft.mql.PipelineCompiler.run(eventsSource(spark, dir), pipeline)
      val aggregates = probe.queryExecution.analyzed.collectFirst {
        case a: Aggregate => a
      }.nonEmpty
      runStream(spark, dir, ev => graft.mql.PipelineCompiler.run(ev, pipeline),
        outputMode = if (aggregates) "complete" else "append")
    } finally restoreNanosFlag(spark, prevNanos)
  }

  /** Run the streaming aggregation synchronously over the parquet
    * fixture (memory sink, processAllAvailable) and return the final
    * batch result. The same `windowedAgg` plan serves a real
    * `readStream` source in production. */
  def runOnFixture(spark: SparkSession, dir: String,
                   windowLen: String = "1 hour"): DataFrame =
    runStream(spark, dir, windowedAgg(_, windowLen))

  /** Streaming dedup over the fixture (append mode — dedup emits rows,
    * not updating aggregates). */
  def runDedupOnFixture(spark: SparkSession, dir: String): DataFrame =
    runStream(spark, dir, dedupKeys(_), outputMode = "append")

  /** Streaming gap-sessions over the fixture (sessionAgg run to
    * completion) — the session_window twin of Sessionize.byGap. */
  def runSessionsOnFixture(spark: SparkSession, dir: String,
                           gap: String = "30 minutes"): DataFrame =
    runStream(spark, dir, sessionAgg(_, gap))

  /** Streaming schema-directed document decode (DocDecoder.decodeStream
    * on events.props) → typed aggregation: the continuous-ingest form of
    * the reference's core decode loop (find_arrow_all drains a cursor;
    * here the cursor never ends). Declared strict schema, complete-mode
    * count per key. */
  def runDecodeStreamOnFixture(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LongType)))
    runStream(spark, dir, ev => {
      val docs = ev.select(col("props")).as[String](
        org.apache.spark.sql.Encoders.STRING)
      graft.bson.DocDecoder.decodeStream(docs, schema)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    })
  }

  /** Run a stateful streaming transform synchronously over the parquet
    * fixture (memory sink, AvailableNow, processAllAvailable) and return
    * the final result. The same plan serves a real readStream source in
    * production. */
  /** The fixture readStream source (nanos → micros ts), shared by
    * runStream and the mqlOnFixture mode probe. The nanos flag must
    * stay set for the QUERY's lifetime (parquet scan-time schema
    * conversion reads it per file), so runners restore the prior value
    * via [[restoreNanosFlag]] after their synchronous run — leaving it
    * mutated would silently change parquet semantics for every later
    * read on the shared session. */
  private val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"
  private def restoreNanosFlag(spark: SparkSession,
                               prev: Option[String]): Unit = prev match {
    case Some(v) => spark.conf.set(NanosFlag, v)
    case None => spark.conf.unset(NanosFlag)
  }
  private def saveNanosFlag(spark: SparkSession): Option[String] =
    spark.conf.getOption(NanosFlag)
  private def eventsSource(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set(NanosFlag, "true")
    // streaming file sources need a declared schema; infer it from the
    // parquet footer via a batch read so both fixture ts formats (long
    // nanos / timestamp[us]) stream correctly, then normalize as batch
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.api.Graft.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .where(col("ts").isNotNull))
  }

  private def runStream(spark: SparkSession, dir: String,
                        transform: DataFrame => DataFrame,
                        outputMode: String = "complete"): DataFrame = {
    val name = s"graft_events_${System.nanoTime()}"
    val prevNanos = saveNanosFlag(spark)
    val stream = eventsSource(spark, dir)
    // checkpoint on tmpfs when available: the file-source log + state
    // stores fsync per micro-batch, which dominates (and jitters) this
    // fixture run on disk; a real deployment points this at durable
    // storage instead
    val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    // Stateful-shuffle partitions are pinned per query at first
    // checkpoint: size them to the STATE (a few thousand windows), not
    // to the core count — every state-store instance pays provider init
    // + per-batch commit, which dominated this fixture run at 32. The
    // map side still parallelizes across input splits; at real scale
    // this knob grows with state volume.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = transform(stream)
        .writeStream.outputMode(outputMode)
        .format("memory").queryName(name)
        .option("checkpointLocation", s"$ckptBase/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      restoreNanosFlag(spark, prevNanos)
      if (q != null) q.stop() // also on failure: no orphan query
      // the memory-sink table holds the result; the checkpoint is scratch
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"$ckptBase/ckpt_$name"))
    }
    spark.table(name)
  }
}
