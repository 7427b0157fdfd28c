package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.api.Graft
import graft.operators.Sessionize

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("streaming session_window agrees with the batch sessionizer") {
    val events = Graft.table(spark, dir, "events")
    // batch ground truth
    val batch = Sessionize.byGap(events, "user_id", "ts", "event_id", "value", 30)
      .select($"user_id", $"session_start", $"n_events".cast("long"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    // streaming path over the same file
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = Graft.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val name = s"graft_sessions_${System.nanoTime()}"
    val q = EventStream.sessionAgg(stream, gap = "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table(name)
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("MQL pipeline on a stream equals the same pipeline in batch") {
    val pipeline = """[
      {"$match": {"value": {"$gt": 0}}},
      {"$group": {"_id": "$event_type",
         "n": {"$count": {}}, "sv": {"$sum": {"$toDecimal": "$value"}}}},
      {"$project": {"_id": 0, "event_type": "$_id", "n": 1,
         "sum_value": {"$round": [{"$toDouble": "$sv"}, 4]}}}]"""
    val streamed = EventStream.mqlOnFixture(spark, dir, pipeline)
      .orderBy("event_type")
      .as[(String, Long, Double)].collect().toSeq
    import graft.api.implicits._
    val batch = Graft.table(spark, dir, "events").mqlAggregate(pipeline)
      .orderBy("event_type")
      .as[(String, Long, Double)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateless MQL pipeline on a stream runs in append mode") {
    val pipeline = """[
      {"$match": {"event_type": "click", "value": {"$gt": 4.0}}},
      {"$project": {"event_id": 1, "user_id": 1}}]"""
    val streamed = EventStream.mqlOnFixture(spark, dir, pipeline)
      .orderBy("event_id").as[(Long, Long)].collect().toSeq
    import graft.api.implicits._
    val batch = Graft.table(spark, dir, "events").mqlAggregate(pipeline)
      .select("event_id", "user_id")
      .orderBy("event_id").as[(Long, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming ingest into the graftdocs sink round-trips") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = graft.TestDirs.temp("graft_stream_sink").toString
    val ckpt = graft.TestDirs.temp("graft_stream_ckpt").toString
    val q = EventStream.writeToDocSink(
        input.toDS().toDF("id", "name"), out)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("graftdocs")
      .schema("id LONG, name STRING").load(out)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("doc-sink batches replay exactly-once: marker skip + crashed-attempt cleanup") {
    import spark.implicits._
    val out = graft.TestDirs.temp("graft_sink_replay").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val b1 = Seq((3L, "c")).toDF("id", "name")
    def count(): Long = spark.read.format("graftdocs")
      .schema("id LONG, name STRING").load(out).count()
    EventStream.sinkBatch(b0, 0L, out, "jsonl")
    EventStream.sinkBatch(b1, 1L, out, "jsonl")
    assert(count() == 3)
    // committed replay (marker present): a re-delivered batch is a no-op
    EventStream.sinkBatch(b0, 0L, out, "jsonl")
    assert(count() == 3)
    // crashed attempt: data committed but the marker never written —
    // the replay must remove that attempt's files and converge exactly
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out, "._graft_sink_sb00000001"), false)
    assert(count() == 3) // data still visible in the transient window
    EventStream.sinkBatch(b1, 1L, out, "jsonl")
    assert(count() == 3, "replay after simulated crash duplicated rows")
    assert(fs.exists(new org.apache.hadoop.fs.Path(out, "._graft_sink_sb00000001")))
  }

  test("mergeStream folds multiple micro-batches into the standing collection") {
    val feed = graft.TestDirs.temp("graft_msfeed").toString
    // 2 files → 2 paced micro-batches; key "a" spans both (must fold),
    // key "b" and "c" arrive in one batch each (insert path)
    Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$feed/f1")
    Seq(("a", 9.0), ("c", 3.0)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$feed/f2")
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_msstore").toString)
    val stream = spark.readStream
      .schema("k string, v double")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(feed)
    val pipeline = """[
      {"$group": {"_id": "$k", "n": {"$count": {}}, "maxv": {"$max": "$v"}}},
      {"$merge": {"into": "t", "on": "_id",
        "whenMatched": [{"$set": {"n": {"$add": ["$n", "$$new.n"]},
                                  "maxv": {"$max": ["$maxv", "$$new.maxv"]}}}],
        "whenNotMatched": "insert"}}]"""
    val ckpt = graft.TestDirs.temp("graft_msckpt").toString
    val q = EventStream.mergeStream(stream, pipeline, store)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"expected >=2 non-empty micro-batches, saw $batches")
    val rows = store.read("t").orderBy("_id")
      .select("_id", "n", "maxv").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq(("a", 3L, 9.0), ("b", 1L, 2.0), ("c", 1L, 3.0)))

    // replay protection: a fresh checkpoint re-delivers the same files
    // with batchIds starting at 0 — every batch id ≤ the committed tag
    // must be skipped, leaving the fold unchanged (no double counting)
    assert(store.readTag("t", "batchId").map(_.toLong).exists(_ >= 1))
    val ckpt2 = graft.TestDirs.temp("graft_msckpt2").toString
    val q2 = EventStream.mergeStream(stream, pipeline, store)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    try q2.processAllAvailable() finally q2.stop()
    val rows2 = store.read("t").orderBy("_id")
      .select("_id", "n", "maxv").collect()
    assert(rows2.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq(("a", 3L, 9.0), ("b", 1L, 2.0), ("c", 1L, 3.0)))
  }

  test("indexStream folds per-batch and skips replayed batches") {
    import spark.implicits._
    val feed = graft.TestDirs.temp("graft_isfeed").toString
    Seq((1L, "spark rocks"), (2L, "spark queries"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    Seq((3L, "window functions"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_isstore").toString)
    val stream = spark.readStream
      .schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(feed)
    val ckpt = graft.TestDirs.temp("graft_isckpt").toString
    val q = EventStream.indexStream(stream, Seq("text"), "idx", store)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"expected >=2 non-empty micro-batches, saw $batches")
    def dfOf(term: String): Long = store.read("idx")
      .where($"kind" === "term" && $"term" === term)
      .select("df").as[Long].head()
    assert(dfOf("spark") == 2L && dfOf("window") == 1L)
    assert(store.read("idx").where($"kind" === "summary")
      .select("n_docs").as[Long].head() == 3L)
    // fresh-checkpoint replay: batch ids restart at 0, every one is ≤
    // the committed tag → skipped, dfs unchanged (no double counting)
    assert(store.readTag("idx", "batchId").map(_.toLong).exists(_ >= 1))
    val ckpt2 = graft.TestDirs.temp("graft_isckpt2").toString
    val q2 = EventStream.indexStream(stream, Seq("text"), "idx", store)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(dfOf("spark") == 2L)
    assert(store.read("idx").where($"kind" === "summary")
      .select("n_docs").as[Long].head() == 3L)
  }

  test("flatMapGroupsWithState carries per-key state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.{UserEvent, UserState}
    val ts = java.sql.Timestamp.valueOf(_: String)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val name = s"graft_state_${System.nanoTime()}"
    val q = EventStream.runningUserStats(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName(name)
      .start()
    def dec(s: String) = new java.math.BigDecimal(s)
    try {
      // batch 1: two users
      input.addData(
        UserEvent(1L, ts("2024-01-01 10:00:00"), dec("1.25")),
        UserEvent(1L, ts("2024-01-01 11:00:00"), dec("0.25")),
        UserEvent(2L, ts("2024-01-01 10:30:00"), dec("2.0")))
      q.processAllAvailable()
      // batch 2: user 1 again — state must accumulate, not reset
      input.addData(UserEvent(1L, ts("2024-01-01 09:00:00"), dec("0.5")))
      q.processAllAvailable()
      val rows = spark.table(name).as[UserState].collect()
      // latest emission per key is the cumulative view (BigDecimal
      // equality is scale-sensitive → compareTo)
      val last1 = rows.filter(_.user_id == 1L).maxBy(_.n)
      assert(last1.n == 3L && last1.sum_value.compareTo(dec("2.0")) == 0
        && last1.last_ts == ts("2024-01-01 11:00:00"))
      val last2 = rows.filter(_.user_id == 2L).maxBy(_.n)
      assert(last2.n == 1L && last2.sum_value.compareTo(dec("2.0")) == 0
        && last2.last_ts == ts("2024-01-01 10:30:00"))
      // update mode emitted user 1 once per batch it appeared in
      assert(rows.count(_.user_id == 1L) == 2)
    } finally q.stop()
  }

  test("left-outer interval join: unmatched rows flush exactly at watermark eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf(_: String)
    // (event_id, user_id, event_type, ts)
    val input = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = input.toDF()
      .toDF("event_id", "user_id", "event_type", "ts")
    val name = s"graft_oj_${System.nanoTime()}"
    val q = EventStream.intervalJoin(events, "click", "purchase",
      within = "10 minutes", watermarkDelay = "30 minutes",
      joinType = "left_outer")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      // batch 1: click 1 matched by a purchase 5 min later; click 2
      // unmatched; click 3 unmatched but NEAR the head of the stream
      input.addData(
        (1L, 10L, "click", ts("2024-01-01 10:00:00")),
        (100L, 10L, "purchase", ts("2024-01-01 10:05:00")),
        (2L, 20L, "click", ts("2024-01-01 10:00:00")),
        (3L, 30L, "click", ts("2024-01-01 10:55:00")))
      q.processAllAvailable()
      val afterB1 = spark.table(name).collect()
      // the match emits as found; neither unmatched click has flushed
      // (watermark is still min(10:55, 10:05) - 30min = 9:35)
      assert(afterB1.length == 1 && afterB1.head.getLong(0) == 1L)
      // batch 2: late sentinels on BOTH sides push the global watermark
      // to 11:20 — click 2 (10:00 + 10min < 11:20) must flush
      // null-joined; click 3 (10:55 + 10min < 11:20) flushes too
      input.addData(
        (4L, 40L, "click", ts("2024-01-01 11:50:00")),
        (101L, 41L, "purchase", ts("2024-01-01 11:50:00")))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
      val unmatched = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
      assert(unmatched == Set(2L, 3L), rows.mkString("; "))
      // the matched row carries its lag; unmatched rows carry null lag
      val matched = rows.filter(!_.isNullAt(1))
      assert(matched.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
      assert(matched.head.getLong(3) == 5L * 60 * 1000 * 1000)
      assert(rows.filter(_.isNullAt(1)).forall(_.isNullAt(3)))
      // click 4 (the sentinel) is NOT flushed — the watermark never
      // passed it; bounded state, not a dropped row
      assert(!rows.map(_.getLong(0)).contains(4L))
    } finally q.stop()
  }
}
