package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.bson.BsonBinary
import graft.sinks.DocStore
import graft.streaming.EventStream

/** The streaming probe of `find_arrow`'s traced run, measuring the
  * streaming micro-batch layer: a `readStream.format("graftdocs")` tail
  * of an events collection feeding `EventStream.windowedAgg` into a
  * memory sink. Each batch of seeded events is appended with
  * DocStore.appendRaw and `processAllAvailable` waits until the sink
  * reflects it; the sink's final aggregate is checked at the end. It is
  * not a workload of its own (see README.md). */
object StreamTail {
  private val BatchDocs = 2000
  private val Sink = "perfbench_stream_sink"

  /** Runs `batches` appends after a first one; returns streaming.* and
    * failure messages. */
  def probe(ctx: Ctx, batches: Int): (Map[String, Double], Seq[String]) = {
    val root = ctx.dir("stream_store")
    val store = new DocStore(ctx.spark, root.toString, "graftdocs")
    val ckpt = new File(ctx.tmp, "perfbench-stream-ckpt")
    val appended = Seq.newBuilder[Row]
    def append(batch: Long): Unit = {
      val rows = Gen.events(ctx.seed, batch, BatchDocs)
      store.appendRaw("events", rows.toArray.flatMap(r => BsonBinary.encodeRow(r, Gen.EventSchema)))
      appended ++= rows
    }
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e.progress)
    }
    ctx.spark.streams.addListener(listener)
    var query: StreamingQuery = null
    try {
      Counters.aside(ctx.sc) {
        append(0)
        val events = ctx.spark.readStream.format("graftdocs").schema(Gen.EventSchema)
          .load(store.path("events"))
        query = EventStream.windowedAgg(events).writeStream.format("memory").queryName(Sink)
          .outputMode("complete").option("checkpointLocation", ckpt.toString).start()
        query.processAllAvailable()
      }
      val from = System.currentTimeMillis()
      val batchFailures = (1 to batches).flatMap { b =>
        try { append(b); query.processAllAvailable(); None }
        catch { case e: Exception => Some(s"stream batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      // the sink's final aggregate against the same aggregate run as a
      // batch query over every appended event
      val all = ctx.spark.createDataFrame(appended.result().asJava, Gen.EventSchema)
      val check = Counters.aside(ctx.sc)(Check.diff("stream final aggregate",
        Check.collect(Check.agg(EventStream.windowedAgg(all), text = false)),
        Check.collect(Check.agg(ctx.spark.table(Sink), text = false))))
      Thread.sleep(300) // progress events trail processAllAvailable
      val ps = progress.asScala.toSeq.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= from)
      def dur(k: String) =
        Workload.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      (Map(
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.state_commit_ms" ->
          Workload.mean(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "streaming.rows_per_batch" -> Workload.mean(ps.map(_.numInputRows.toDouble))),
        batchFailures ++ check)
    } finally {
      if (query != null) query.stop()
      ctx.spark.streams.removeListener(listener)
      Workload.deleteTree(ckpt)
      Workload.deleteTree(root)
    }
  }
}
