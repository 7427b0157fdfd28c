package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The DSv2 wire connector: partition-per-cursor planning, MQL filter
  * pushdown visible in the plan, projection over the wire, columnar
  * decode, and transport-option composition. */
class GraftWireSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def fixture(auth: Option[(String, String)] = None)
      : (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_wsrc").toString,
      "graftdocs")
    store.write(
      graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      "events")
    // preload: the DSv2 source puts one cursor in EVERY task — the
    // same-JVM stand-in must serve finds without scheduling Spark jobs
    (store, new OpMsg.Server(spark, store, auth = auth, preload = true))
  }

  private def reader(server: OpMsg.Server) =
    spark.read.format("graftwire")
      .option("host", "127.0.0.1")
      .option("port", server.port)
      .option("collection", "events")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_id").collect().toSeq.map(_.json)

  test("full read with inferred schema equals the collection") {
    val (store, server) = fixture()
    try {
      val df = reader(server).load()
      assert(df.schema.fieldNames.toSet ==
        Set("event_id", "user_id", "event_type", "value"))
      assert(canon(df) == canon(store.read("events")))
    } finally server.stop()
  }

  test("filter pushdown: translated conjuncts ride the wire (visible " +
       "as PushedMqlFilter), residuals stay Spark-side; results exact") {
    val (store, server) = fixture()
    try {
      val df = reader(server).load()
        .where(col("value") > 0.5 && col("event_type").contains("ic"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedMqlFilter"), plan)
      assert(plan.contains("\"value\""), plan) // the translated conjunct
      val local = store.read("events")
        .where(col("value") > 0.5 && col("event_type").contains("ic"))
      assert(canon(df) == canon(local))
    } finally server.stop()
  }

  test("column pruning crosses the wire as an include-projection") {
    val (store, server) = fixture()
    try {
      val df = reader(server).load().select("event_id", "value")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("projection: [event_id,value]"), plan)
      assert(df.schema.fieldNames.toSeq == Seq("event_id", "value"))
      assert(df.orderBy("event_id").collect().map(_.getDouble(1)).take(5)
        .toSeq ==
        store.read("events").select("event_id", "value")
          .orderBy("event_id").collect().map(_.getDouble(1)).take(5).toSeq)
      // COUNT(*) (empty projection) still counts every row
      assert(reader(server).load().count() ==
        store.read("events").count())
    } finally server.stop()
  }

  test("splitKey planning: one cursor per partition, union exact") {
    val (store, server) = fixture()
    try {
      val df = reader(server)
        .option("splitKey", "event_id").option("numSplits", 4)
        .load().where(col("value") > 0.2)
      assert(df.rdd.getNumPartitions == 4)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("cursors: 4"), plan)
      assert(canon(df) ==
        canon(store.read("events").where(col("value") > 0.2)))
    } finally server.stop()
  }

  test("transport options compose: SCRAM + snappy + checksums + exhaust") {
    val (store, server) = fixture(auth = Some(("svc", "wire-pw")))
    try {
      val df = reader(server)
        .option("user", "svc").option("password", "wire-pw")
        .option("compressor", "snappy").option("checksum", "true")
        .option("exhaust", "true")
        .option("splitKey", "event_id").option("numSplits", 3)
        .load()
      assert(canon(df) == canon(store.read("events")))
    } finally server.stop()
  }

  test("user-supplied schema skips inference and drives the projection") {
    val (store, server) = fixture()
    try {
      val df = reader(server)
        .schema("event_id BIGINT, value DOUBLE").load()
      assert(canon(df) ==
        canon(store.read("events").select("event_id", "value")))
    } finally server.stop()
  }

  test("pipeline reads: the server's aggregate output IS the DataFrame " +
       "(aggregate_raw_batches as a source); splitKey refuses") {
    val (store, server) = fixture()
    try {
      val pl = """[
        {"$match": {"value": {"$gt": 0.3}}},
        {"$group": {"_id": "$event_type", "n": {"$sum": 1}}},
        {"$sort": {"_id": 1}}]"""
      val df = reader(server).option("pipeline", pl).load()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pipeline:"), plan)
      val local = graft.mql.PipelineCompiler.run(store.read("events"), pl)
      assert(df.orderBy("_id").collect().toSeq.map(_.json) ==
        local.orderBy("_id").collect().toSeq.map(_.json))
      // pruning still applies at decode: selecting one output column
      val one = reader(server).option("pipeline", pl).load().select("n")
      assert(one.schema.fieldNames.toSeq == Seq("n"))
      assert(one.collect().map(_.getLong(0)).sorted.toSeq ==
        local.select("n").collect().map(_.getLong(0)).sorted.toSeq)
      // Catalyst filters on the OUTPUT stay Spark-side and are exact
      val filtered = reader(server).option("pipeline", pl).load()
        .where(col("n") > 100)
      assert(filtered.collect().map(_.getLong(1)).forall(_ > 100))
      // splitKey cannot combine with a pipeline
      val e = intercept[Exception](
        reader(server).option("pipeline", pl)
          .option("splitKey", "event_id").option("numSplits", 2)
          .load().collect())
      assert(e.getMessage.contains("splitKey"))
    } finally server.stop()
  }

  test("write side: df.write.format(graftwire) inserts per-partition; " +
       "wire round trip equals the source") {
    val (store, server) = fixture()
    try {
      val src = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .limit(200)
      src.repartition(3).write.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "sink_events")
        .mode("append").save()
      assert(canon(store.read("sink_events")) == canon(src))
      // append again through the same format → doubles
      src.limit(50).write.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "sink_events")
        .mode("append").save()
      assert(store.read("sink_events").count() == 250)
      // and the full loop: write over the wire, read back over the wire
      val back = spark.read.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "sink_events")
        .load()
      assert(back.count() == 250)
    } finally server.stop()
  }

  test("streaming write: writeStream.format(graftwire) lands micro-" +
       "batches over per-partition insert connections, effectively once") {
    val (store, server) = fixture()
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[Long]
      val q = in.toDF().select(col("value").as("event_id"),
          (col("value") % 7).as("user_id"))
        .writeStream.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "stream_sink")
        .option("streamId", "spec-stream")
        .option("checkpointLocation",
          graft.TestDirs.temp("graft_wsw").toString)
        .outputMode("append").start()
      try {
        in.addData(1L to 100L: _*)
        q.processAllAvailable()
        assert(store.read("stream_sink").count() == 100)
        in.addData(101L to 130L: _*)
        q.processAllAvailable()
        val got = store.read("stream_sink")
        assert(got.count() == 130)
        assert(got.select("event_id").distinct().count() == 130)
      } finally q.stop()
    } finally server.stop()
  }

  test("replay protection: a re-sent (lsid, txnNumber) insert is " +
       "acknowledged from the transaction log, never re-applied") {
    val (store, server) = fixture()
    try {
      val docs = (1 to 20).map(i => OpMsg.encodeDoc(
        org.json4s.JObject(List(
          "event_id" -> org.json4s.JInt(i),
          "value" -> org.json4s.JDouble(i * 0.5)))))
      val ch = new OpMsg.InsertChannel("127.0.0.1", server.port, "graft",
        "replay_sink", None, None, compress = false, checksum = false,
        compressor = "zlib")
      try {
        val sid = "replay-spec/0"
        // first send applies; the replay (same lsid+txn) acks n=20
        // WITHOUT appending — the Spark-task-retry shape
        assert(ch.send(docs, Some((sid, 7L))) == 20L)
        assert(ch.send(docs, Some((sid, 7L))) == 20L)
        // a different txnNumber is a NEW write, not a replay
        assert(ch.send(docs, Some((sid, 8L))) == 20L)
        // sessionless sends never dedup (batch-write semantics)
        assert(ch.send(docs) == 20L)
      } finally ch.close()
      assert(store.read("replay_sink").count() == 60)
    } finally server.stop()
  }

  test("streaming read: micro-batches are half-open offsetKey ranges; " +
       "wire-appended rows arrive exactly once") {
    val (store, server) = fixture()
    try {
      val schema = store.read("events").schema
      val sink = s"wire_stream_${System.nanoTime()}"
      val q = spark.readStream.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "events")
        .option("offsetKey", "event_id")
        .schema(schema).load()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val base = store.read("events").count()
        assert(spark.table(sink).count() == base)
        // append rows with strictly larger keys over the wire; the next
        // batch is exactly the new half-open range
        val maxId = store.read("events")
          .agg(max(col("event_id"))).head.getLong(0)
        val extra = spark.range(1, 31).select(
          (col("id") + maxId).as("event_id"),
          (col("id") % 5).as("user_id"),
          lit("synthetic").as("event_type"),
          lit(0.25).as("value"))
        OpMsg.insert(spark, "127.0.0.1", server.port, "graft", "events",
          extra): Unit
        q.processAllAvailable()
        assert(spark.table(sink).count() == base + 30)
        assert(spark.table(sink)
          .where(col("event_type") === "synthetic").count() == 30)
        // no duplicates across batches
        assert(spark.table(sink).select("event_id").distinct().count() ==
          base + 30)
      } finally q.stop()
    } finally server.stop()
  }

  test("change-stream streaming source: resume tokens are offsets, new " +
       "history tails in exactly once, a restarted query resumes from " +
       "the spooled token") {
    val (store, server) = fixture()
    try {
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 60), "vcoll"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 40), "vcoll"): Unit
      val ckpt = graft.TestDirs.temp("graft_csrc_ck").toString
      def reader() = spark.readStream.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "vcoll")
        .option("changeStream", "true").option("keyField", "doc_id")
        .load()
        .select(col("_id._data").as("tok"), col("operationType"),
          col("documentKey").cast("long").as("doc_id"))
      // foreachBatch sinks: checkpoint-recoverable (the memory sink
      // refuses recovery), rows land in driver-side buffers
      val buf1 = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val q1 = reader().writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          b.collect().foreach(buf1.add(_): Unit); () })
        .option("checkpointLocation", ckpt).start()
      try {
        q1.processAllAvailable()
        // initial replay: the 20 deletes (ids 40..59)
        assert(buf1.size == 20)
        import scala.jdk.CollectionConverters._
        assert(buf1.asScala.map(_.getString(1)).toSet == Set("delete"))
        // new history tails in, exactly once
        store.writeVersioned(docs.where(col("doc_id") < 50), "vcoll"): Unit
        q1.processAllAvailable()
        assert(buf1.size == 30) // + inserts 40..49
        assert(buf1.asScala.map(_.getString(0)).toSet.size == 30)
      } finally q1.stop()
      // a RESTARTED query on the same checkpoint resumes at the spooled
      // token: only history written after the restart arrives
      store.writeVersioned(docs.where(col("doc_id") < 45), "vcoll"): Unit
      val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val q2 = reader().writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          b.collect().foreach(buf2.add(_): Unit); () })
        .option("checkpointLocation", ckpt).start()
      try {
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val got = buf2.asScala.toSeq
        assert(got.size == 5, s"expected 5 fresh deletes, got $got")
        assert(got.map(_.getString(1)).toSet == Set("delete"))
        assert(got.map(_.getLong(2)).sorted ==
          Seq(45L, 46L, 47L, 48L, 49L))
      } finally q2.stop()
      // option validation: changeStream + offsetKey refuses
      assert(intercept[Exception] {
        spark.readStream.format("graftwire")
          .option("host", "127.0.0.1").option("port", server.port)
          .option("collection", "vcoll")
          .option("changeStream", "true").option("offsetKey", "doc_id")
          .schema(org.apache.spark.sql.types.StructType(Nil)).load()
          .writeStream.format("memory")
          .queryName(s"bad_${System.nanoTime()}")
          .option("checkpointLocation", graft.TestDirs.temp("graft_csrc_bad").toString)
          .start().processAllAvailable()
      }.getMessage != null)
    } finally server.stop()
  }

  test("randomized wire round-trip property: 12 draws over the type " +
       "surface (insert → append → declared-schema read)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(20260816)
    val pool: Seq[DataType] = Seq(BooleanType, IntegerType, LongType,
      DoubleType, StringType, BinaryType, DateType, TimestampType,
      ArrayType(LongType), ArrayType(DoubleType), ArrayType(StringType))
    def value(dt: DataType): Any =
      if (rnd.nextInt(5) == 0) null
      else dt match {
        case BooleanType => rnd.nextBoolean()
        case IntegerType => rnd.nextInt()
        case LongType => rnd.nextLong()
        case DoubleType => rnd.nextDouble()
        case StringType => rnd.alphanumeric.take(rnd.nextInt(12)).mkString
        case BinaryType =>
          Array.fill[Byte](rnd.nextInt(8))(rnd.nextInt().toByte)
        case DateType =>
          new java.sql.Date(rnd.nextInt(20000).toLong * 86400000L)
        case TimestampType => // BSON datetime is ms precision
          new java.sql.Timestamp(math.abs(rnd.nextLong()) % 4102444800000L)
        case ArrayType(el, _) =>
          Seq.fill(rnd.nextInt(5))(
            if (rnd.nextInt(6) == 0) null
            else el match {
              case LongType => rnd.nextLong()
              case DoubleType => rnd.nextDouble()
              case StringType =>
                rnd.alphanumeric.take(rnd.nextInt(6)).mkString
              case other => fail(s"unexpected $other")
            })
        case other => fail(s"unexpected $other")
      }
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_wrt").toString,
      "graftdocs")
    val server = new OpMsg.Server(spark, store)
    try {
      for (draw <- 1 to 12) {
        val fields = rnd.shuffle(pool).take(1 + rnd.nextInt(5)).zipWithIndex
          .map { case (dt, i) => StructField(s"c$i", dt) }
        val schema = StructType(fields)
        val n = 1 + rnd.nextInt(120)
        val rows = Seq.fill(n)(Row(fields.map(f => value(f.dataType)): _*))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1 + rnd.nextInt(2)), schema)
        val coll = s"rt_$draw"
        df.write.format("graftwire")
          .option("host", "127.0.0.1").option("port", server.port)
          .option("collection", coll).mode("append").save()
        val back = spark.read.format("graftwire")
          .option("host", "127.0.0.1").option("port", server.port)
          .option("collection", coll)
          .schema(schema).load()
        assert(back.schema == schema, s"draw $draw schema")
        assert(back.toJSON.collect().sorted.toSeq ==
          df.toJSON.collect().sorted.toSeq, s"draw $draw values ($n rows)")
      }
    } finally server.stop()
  }

  test("option validation refuses loudly") {
    assert(intercept[IllegalArgumentException](
      spark.read.format("graftwire").option("host", "x").load())
      .getMessage.contains("required"))
    assert(intercept[IllegalArgumentException](
      spark.read.format("graftwire").option("host", "x")
        .option("port", "1").option("collection", "c")
        .option("user", "u").load())
      .getMessage.contains("together"))
  }

  test("spool compaction: a stalled downstream keeps the spool file " +
       "count bounded; merged-slice partitions serve every (start,end] " +
       "range exactly; restart recovery + commit release unchanged") {
    import org.apache.spark.sql.types.{StructType, StructField,
      StringType, LongType}
    val (store, server) = fixture()
    try {
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 5), "ccoll"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 10), "ccoll"): Unit
      val ckpt = graft.TestDirs.temp("graft_spoolc").toString
      val conn = GraftWireSource.Conn("127.0.0.1", server.port, "graft",
        "ccoll", batchSize = 1000, None, None, false, "zlib", false, false)
      val required = StructType(Seq(
        StructField("operationType", StringType),
        StructField("documentKey", LongType)))
      val cs = new GraftWireChangeStream(conn, "doc_id", required, ckpt,
        "", compactThreshold = 4)
      val offsets = scala.collection.mutable.ArrayBuffer(cs.latestOffset())
      // STALLED commit: 11 more non-empty triggers, never committing
      (1 to 11).foreach { i =>
        store.writeVersioned(docs.where(col("doc_id") < 10 + i),
          "ccoll"): Unit
        offsets += cs.latestOffset()
      }
      val spoolDir = new java.io.File(ckpt, "graftwire-spool")
      def bsons() = spoolDir.listFiles().toSeq
        .filter(_.getName.endsWith(".bson"))
      assert(bsons().size <= 5,
        s"expected a compacted spool, got ${bsons().map(_.getName)}")
      assert(bsons().exists(
        _.getName.matches("""spool-\d{10}-\d{10}\.bson""")),
        "expected merged spool files")
      val factory = cs.createReaderFactory()
      def rows(parts: Array[org.apache.spark.sql.connector.read
          .InputPartition]): Long = parts.map { pt =>
        val r = factory.createColumnarReader(pt)
        try { var n = 0L; while (r.next()) n += r.get().numRows(); n }
        finally r.close()
      }.sum
      // whole range: 5 initial inserts + 11 single-insert triggers
      assert(rows(cs.planInputPartitions(
        WireTokenOffset(0L, ""), offsets.last)) == 16)
      // an INTERIOR single-trigger range served from a merged slice
      assert(rows(cs.planInputPartitions(offsets(3), offsets(4))) == 1)
      assert(rows(cs.planInputPartitions(offsets(7), offsets(10))) == 3)
      // restart: a fresh instance recovers the tail and serves the same
      // ranges from the compacted spool
      val cs2 = new GraftWireChangeStream(conn, "doc_id", required, ckpt,
        "", compactThreshold = 4)
      val factory2 = cs2.createReaderFactory()
      def rows2(parts: Array[org.apache.spark.sql.connector.read
          .InputPartition]): Long = parts.map { pt =>
        val r = factory2.createColumnarReader(pt)
        try { var n = 0L; while (r.next()) n += r.get().numRows(); n }
        finally r.close()
      }.sum
      assert(rows2(cs2.planInputPartitions(
        WireTokenOffset(0L, ""), offsets.last)) == 16)
      // commit releases plain AND merged files
      cs2.commit(offsets.last)
      assert(bsons().isEmpty, s"spool not released: ${bsons()}")
      // post-restart seeding: with everything committed, a third
      // incarnation seeds lastCommitted at the recovered counter — its
      // first commit walks the EMPTY window, never 1..N (the O(query
      // lifetime) regression this seed exists to prevent)
      val cs3 = new GraftWireChangeStream(conn, "doc_id", required, ckpt,
        "", compactThreshold = 4)
      assert(cs3.lastCommitted == 12L)
      cs3.commit(offsets.last) // no-op window
      assert(spoolDir.listFiles().toSeq
        .count(_.getName.endsWith(".token")) >= 1) // newest sidecar stays
    } finally server.stop()
  }

  test("change-stream streaming source vs DDL: the drop's terminal " +
       "events arrive through the stream, then the query dies with the " +
       "startAfter guidance (mongod kills invalidated streams)") {
    val (store, server) = fixture()
    try {
      val docs = graft.api.Graft.table(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "source", "n_chars")
      store.writeVersioned(docs.where(col("doc_id") < 8), "dcoll"): Unit
      store.writeVersioned(docs.where(col("doc_id") < 12), "dcoll"): Unit
      val ckpt = graft.TestDirs.temp("graft_csinv").toString
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val q = spark.readStream.format("graftwire")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("collection", "dcoll")
        .option("changeStream", "true").option("keyField", "doc_id")
        .load()
        .select(col("operationType"), col("txnVersion").cast("long"))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          b.collect().foreach(buf.add(_): Unit); () })
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(buf.size == 4) // initial replay: inserts 8..11
        store.drop("dcoll"): Unit
        val e = intercept[Exception] {
          q.processAllAvailable()
          // the terminal batch may land before the poll that dies —
          // drive one more round if the query is still alive
          q.processAllAvailable()
        }
        // the failure names the way out
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("startAfter")), msgs(e).toString)
        import scala.jdk.CollectionConverters._
        val ops = buf.asScala.map(_.getString(0)).toSeq
        // drop + invalidate crossed the stream before the death
        assert(ops.count(_ == "drop") == 1 &&
          ops.count(_ == "invalidate") == 1, ops.toString)
      } finally q.stop()
    } finally server.stop()
  }
}
