package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, sum}
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

import graft.api.Graft
import graft.sinks.DocStore
import graft.sources.OpMsg

/** An OP_MSG server on loopback over a graftdocs DocStore, driven by
  * one closed-loop client (a second client made each op's latency depend
  * on which op the other client ran beside it). Blocks of 26 ops run in
  * a seeded order: 12 range finds of 200 docs (3 on `customer`, 8 on
  * `orders`, one on `ins`), 5 $match/$group/$sort aggregates and 9
  * inserts of 100 docs into `ins`, 6 of the 26 connections using zstd.
  * Inserts and finds on `ins` share the block, so a commit path that
  * multiplies small files slows those finds. Every find and aggregate is checked against a
  * plain Spark oracle over the generated source frames. */
final class WireServe(ctx: Ctx) extends Workload {
  import Workload._
  /** A block's ops, ((kind, collection), zstd). The finds' split over
    * collections is fixed, so that no median falls between the latencies
    * of two collections, and so is each kind's count of zstd
    * connections, so that no kind's median depends on how many of its
    * ops the seed gave zstd. */
  private val BlockOps: Seq[((String, String), Boolean)] = {
    def ops(n: Int, zstd: Int, kind: String, coll: String) = Seq.tabulate(n)(i => ((kind, coll), i < zstd))
    ops(3, 1, "find", "customer") ++ ops(8, 2, "find", "orders") ++ ops(1, 0, "find", "ins") ++
      ops(5, 1, "aggregate", "orders") ++ ops(9, 2, "insert", "ins")
  }
  val block = BlockOps.size
  val nominalBlockSeconds = 10.0
  /** Op ids of replayed ops, apart from the traced window's own. */
  private val ReplayIds = 1000000L
  private var plan = Seq.empty[((String, String), Boolean)]

  private val Customers = 15000L
  private val Orders = 150000L
  private val InsBase = 2000L
  private val Ranges = 8
  private val RangeDocs = 200L
  private val InsertDocs = 100L
  private val Pipelines = 6
  private val InsSeed = ctx.seed + 1

  private val root = ctx.dir("wire_store")
  private val store = new DocStore(ctx.spark, root.toString, "graftdocs")
  private var server: OpMsg.Server = _

  private val keyOf = Map("customer" -> "c_custkey", "orders" -> "o_orderkey", "ins" -> "o_orderkey")
  private val sizeOf = Map("customer" -> Customers, "orders" -> Orders, "ins" -> InsBase)
  // generated once (first load), then reused by every load and the oracle
  private lazy val customers = Gen.customer(ctx.spark, 1, Customers + 1, ctx.seed, ctx.cpus).persist()
  private lazy val orders = Gen.orders(ctx.spark, 1, Orders + 1, Customers, ctx.seed, 4 * ctx.cpus).persist()
  private def insRows(from: Long, until: Long) =
    Gen.orders(ctx.spark, from, until, Customers, InsSeed, 1)

  private def range(coll: String, k: Int): (Long, Long) = {
    val lo = 1 + k * (sizeOf(coll) / Ranges)
    (lo, lo + RangeDocs)
  }
  private def findJson(coll: String, k: Int): String = {
    val (lo, hi) = range(coll, k)
    s"""{"${keyOf(coll)}": {"$$gte": $lo, "$$lt": $hi}}"""
  }
  private def pipelineLo(p: Int): Long = 1 + p * (Orders / Pipelines)
  private val PipelineDocs = Orders / 8
  private def pipeline(p: Int): String = {
    val lo = pipelineLo(p)
    s"""[{"$$match": {"o_orderkey": {"$$gte": $lo, "$$lt": ${lo + PipelineDocs}}}},""" +
      """{"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1}, """ +
      """"cust": {"$sum": "$o_custkey"}, "top": {"$max": "$o_totalprice"}}},""" +
      """{"$sort": {"_id": 1}}]"""
  }

  private def sources = Map("customer" -> customers, "orders" -> orders,
    "ins" -> insRows(1, InsBase + 1))
  private var expectedFind = Map.empty[(String, Int), Check.Sums]
  private var expectedAgg = Map.empty[Int, Check.Sums]
  private val inserted = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var insertSeq = 0L
  private var landedBytes = 0L
  private var landedDocs = 0L
  private val replayFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  def load(rep: Int): Unit = Counters.aside(ctx.sc) {
    store.write(customers, "customer")
    store.write(orders, "orders")
  }

  def prepare(): Unit = Counters.aside(ctx.sc) {
    store.drop("ins")
    store.write(insRows(1, InsBase + 1), "ins")
    server = new OpMsg.Server(ctx.spark, store)
    // the oracle: plain Spark over the generated frames, one job per
    // collection, each range / pipeline a group
    expectedFind = sources.toSeq.flatMap { case (coll, src) =>
      val step = sizeOf(coll) / Ranges
      val off = col(keyOf(coll)) - 1
      Check.aggBy(src.where(off % step < RangeDocs && off < step * Ranges)
        .withColumn(Check.Key, (off / step).cast("int")), text = true)
        .collect().map(r => (coll, r.getAs[Int](Check.Key)) -> Check.sums(r))
    }.toMap
    val step = Orders / Pipelines
    val off = col("o_orderkey") - 1
    expectedAgg = Check.aggBy(orders.where(off % step < PipelineDocs)
      .groupBy((off / step).cast("int").as(Check.Key), col("o_orderstatus").as("_id"))
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("cust"), max("o_totalprice").as("top")),
      text = true).collect().map(r => r.getAs[Int](Check.Key) -> Check.sums(r)).toMap
  }

  private def shuffled[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val l = new java.util.ArrayList(xs.asJava)
    java.util.Collections.shuffle(l, rng)
    l.asScala.toSeq
  }

  def runOp(seq: Long, rng: java.util.Random): OpRecord = {
    if (seq % block == 0)
      plan = shuffled(BlockOps, rng)
    val ((kind, coll), zstd) = plan((seq % block).toInt)
    val port = server.port
    if (kind != "insert") {
      val isFind = kind == "find"
      val k = rng.nextInt(if (isFind) Ranges else Pipelines)
      var frame: DataFrame = null
      var t = Timed(0L, 0L)
      try {
        val (got, timing) = timed(seq) {
          frame = Trace.span("sources.opmsg_fetch") {
            if (isFind) {
              val (lo, hi) = range(coll, k)
              OpMsg.find(ctx.spark, "127.0.0.1", port, "graft", coll,
                Seq(GreaterThanOrEqual(keyOf(coll), lo), LessThan(keyOf(coll), hi)),
                compress = zstd, compressor = "zstd")
            } else OpMsg.aggregate(ctx.spark, "127.0.0.1", port, "graft", coll, pipeline(k),
              compress = zstd, compressor = "zstd")
          }
          Trace.span("sources.opmsg_client_decode")(Check.collect(Check.agg(frame, text = true)))
        }
        t = timing
        val want = if (isFind) expectedFind((coll, k)) else expectedAgg(k)
        val err = Check.diff(s"wire $kind $coll #$k${if (zstd) " zstd" else ""}", want, got)
        landedDocs += Check.rows(got)
        OpRecord(kind, t, Check.rows(got), err.isEmpty, err.orNull, param = (kind, coll, k))
      } catch { case e: Exception => failed(kind, t, e, (kind, coll, k)) }
      finally if (frame != null) landedBytes += deleteInputs(frame)
    } else {
      val base = 10000000L + insertSeq * InsertDocs
      insertSeq += 1
      val payload = Counters.aside(ctx.sc) {
        val g = insRows(base, base + InsertDocs)
        ctx.spark.createDataFrame(g.collect().toSeq.asJava, g.schema)
      }
      var t = Timed(0L, 0L)
      try {
        val (acked, timing) = timed(seq) {
          Trace.span("sources.opmsg_insert")(OpMsg.insert(ctx.spark, "127.0.0.1", port, "graft",
            "ins", payload, compress = zstd, compressor = "zstd"))
        }
        t = timing
        if (acked == InsertDocs) inserted += base
        val err = if (acked == InsertDocs) None else Some(s"wire insert acked $acked of $InsertDocs")
        OpRecord("insert", t, InsertDocs, err.isEmpty, err.orNull,
          written = InsertDocs, param = ("insert", "ins", base))
      } catch { case e: Exception => failed("insert", t, e, ("insert", "ins", base)) }
    }
  }

  def finalChecks(): Seq[String] = Counters.aside(ctx.sc) {
    val expected = (sources("ins") +: inserted.toSeq.map(b => insRows(b, b + InsertDocs)))
      .reduce(_ unionByName _)
    Check.diff("ins read-back", Check.collect(Check.agg(expected, text = true)),
      Check.collect(Check.agg(store.read("ins"), text = true))).toSeq ++ replayFailures
  }

  def storedBytesPerDoc(): Double =
    treeBytes(root).toDouble / (Customers + Orders + InsBase + inserted.size * InsertDocs)

  def filesPerCollection(): Double =
    mean(Seq("customer", "orders", "ins").map(c => dataFiles(new File(store.path(c))).size.toDouble))

  /** Replays the traced window's ops directly on the store, after the
    * wire phase: finds and aggregates through Graft (compile, plan,
    * execute), inserts through DocStore.appendRaw. */
  def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    traced.map(_.param).zipWithIndex.foreach {
      case ((kind: String, coll: String, k: Int), i) => Trace.op(ReplayIds + i, "replay") {
        val got = Trace.span("sources.opmsg_direct") {
          val src = store.read(coll)
          val df = Trace.span("mql.compile") {
            if (kind == "find") Graft.find(src, findJson(coll, k)) else Graft.aggregate(src, pipeline(k))
          }
          val sums = Check.agg(df, text = true)
          Trace.span("spark.plan")(sums.queryExecution.executedPlan)
          Trace.span("sources.scan_exec")(Check.collect(sums))
        }
        val want = if (kind == "find") expectedFind((coll, k)) else expectedAgg(k)
        Check.diff(s"direct replay $kind $coll #$k", want, got).foreach(replayFailures += _)
      }
      case (("insert", _, base: Long), i) => Trace.op(ReplayIds + i, "replay") {
        val g = insRows(base, base + InsertDocs)
        val bytes = Counters.aside(ctx.sc)(g.collect()).flatMap(r => graft.bson.BsonBinary.encodeRow(r, g.schema))
        Trace.span("sinks.append")(store.appendRaw("ins_replay", bytes))
      }
      case _ => ()
    }
    Probes.shapes(ctx) ++ Probes.frames(Probes.docs(ctx, insRows(1, 2001))) ++ Map(
      "sources.opmsg_landed_bytes_per_doc" -> landedBytes.toDouble / landedDocs.max(1L))
  }

  def close(): Unit = {
    if (server != null) server.stop()
    customers.unpersist(); orders.unpersist()
    deleteTree(root)
  }
}
