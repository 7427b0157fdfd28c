package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.GreaterThanOrEqual
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** A wire frame carries the schema of its landed cursor batches: the
  * OP_MSG client folds each landed batch file's type tree into the
  * landing directory's inference sidecar before loading, so `find` and
  * `aggregate` return their frame without scheduling a Spark job, and
  * the frame's schema is exactly what the inference job would infer
  * from the same directory — first-seen field order, a field whose type
  * first appears in a getMore batch, int32 widened to int64 by a later
  * batch. */
class OpMsgLandedSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Jobs started on THIS thread while `body` runs. The thread gets its
    * own job group, which the loopback server's threads (started
    * earlier) do not inherit, so a server-side job is not counted. A
    * marker job run afterwards, in another group, flushes the listener
    * bus: once its start is seen, every earlier start has been too. */
  private def clientJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"landed-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add(_): Unit)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "wire frame under test")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "marker job start never reached the listener")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def landingDir(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation if r.options.containsKey("path") => r.options.get("path")
    }.getOrElse(fail("frame is not a graftdocs landing"))

  /** The schema the inference job infers for the frame's landing dir:
    * any finite `inferMaxDocs` skips the sidecar, and this one samples
    * every document. */
  private def jobInferred(df: DataFrame): DataFrame =
    spark.read.format("graftdocs")
      .option("inferMaxDocs", (Long.MaxValue - 1).toString)
      .load(landingDir(df))

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.json).toSet

  private def assertJobFree(what: String)(frame: => DataFrame): Unit = {
    val (df, jobs) = clientJobs(frame)
    assert(jobs == 0, s"$what: $jobs Spark job(s) ran before the frame returned")
    assert(new java.io.File(landingDir(df), GraftDocSource.InferSidecarName).isFile)
    val forced = jobInferred(df)
    assert(df.schema == forced.schema, s"$what: ${df.schema.treeString} vs ${forced.schema.treeString}")
    assert(rows(df) == rows(forced))
    OpMsg.deleteDir(java.nio.file.Paths.get(landingDir(df)))
  }

  test("find and aggregate on a preload server return their frame without a Spark job") {
    val store = new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_landed_srv").toString, "graftdocs")
    // `late` is null through the first batch: its type first appears in
    // a getMore batch
    val schema = StructType(Seq(StructField("_id", LongType),
      StructField("n", IntegerType), StructField("late", StringType)))
    val data = (1L to 120L).map(i =>
      Row(i, (i * 7).toInt, if (i > 40) s"v$i" else null))
    store.write(spark.createDataFrame(java.util.Arrays.asList(data: _*), schema), "t")
    val server = new OpMsg.Server(spark, store, preload = true)
    try {
      assertJobFree("find") {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "t",
          Seq(GreaterThanOrEqual("_id", 1L)), batchSize = 16)
      }
      assertJobFree("aggregate") {
        OpMsg.aggregate(spark, "127.0.0.1", server.port, "graft", "t",
          """[{"$match": {"_id": {"$gte": 1}}}]""", batchSize = 16)
      }
    } finally server.stop()
  }

  /** A mongod-shaped responder: answers the first command and each
    * getMore with the next scripted batch, per connection, and closes
    * the cursor with the last. Unlike the loopback server, whose
    * replies carry one Spark type per column, it serves documents whose
    * field sets and integer widths differ from batch to batch, as a
    * real mongod does. */
  private def scripted(batches: Seq[Seq[Array[Byte]]])(f: Int => Unit): Unit = {
    val ss = new java.net.ServerSocket(0, 4, java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try while (true) {
        val sock = ss.accept()
        try {
          val in = new java.io.BufferedInputStream(sock.getInputStream)
          val out = sock.getOutputStream
          var i = 0
          var more = true
          while (more) OpMsg.readMessage(in) match {
            case Some((rid, _, _)) =>
              val last = i == batches.size - 1
              OpMsg.writeMessage(out, 1000 + i, rid, OpMsg.buildCursorReply(
                if (last) 0L else 77L, "graft.t",
                if (i == 0) "firstBatch" else "nextBatch", batches(i)))
              out.flush()
              i += 1
              more = !last
            case None => more = false
          }
        } catch { case _: java.io.IOException => () } // client hung up
        finally sock.close()
      } catch { case _: java.io.IOException => () } // listener closed: done
    })
    t.setDaemon(true)
    t.start()
    try f(ss.getLocalPort) finally { ss.close(); t.join(10000) }
  }

  test("mongod batches: a field first seen in a getMore batch and int32 widened to int64") {
    def doc(fields: (String, Any, DataType)*): Array[Byte] =
      graft.bson.BsonBinary.encodeRow(Row(fields.map(_._2): _*),
        StructType(fields.map { case (n, _, t) => StructField(n, t) }))
    val batches = Seq(
      (1 to 3).map(i => doc(("_id", i.toLong, LongType), ("n", i, IntegerType))),
      (4 to 6).map(i => doc(("_id", i.toLong, LongType), ("n", i, IntegerType),
        ("tag", s"t$i", StringType))),
      (7 to 9).map(i => doc(("_id", i.toLong, LongType), ("n", 5000000000L + i, LongType))))
    scripted(batches) { port =>
      assertJobFree("find") {
        OpMsg.find(spark, "127.0.0.1", port, "graft", "t", batchSize = 3)
      }
      assertJobFree("aggregate") {
        OpMsg.aggregate(spark, "127.0.0.1", port, "graft", "t", "[]", batchSize = 3)
      }
    }
    // and the shape itself: first-seen order, tag typed from batch 2,
    // n widened by batch 3
    scripted(batches) { port =>
      val df = OpMsg.find(spark, "127.0.0.1", port, "graft", "t", batchSize = 3)
      assert(df.schema.map(f => f.name -> f.dataType) ==
        Seq("_id" -> LongType, "n" -> LongType, "tag" -> StringType))
      assert(df.where("tag is not null").count() == 3)
      OpMsg.deleteDir(java.nio.file.Paths.get(landingDir(df)))
    }
  }

  test("a landing whose fold fails writes no sidecar and fails on load as before") {
    def landing(): java.nio.file.Path = {
      val dir = java.nio.file.Files.createTempDirectory("graft_landed_bad")
      val good = OpMsg.encodeDoc(JObject(List("a" -> JInt(1))))
      val cut = OpMsg.encodeDoc(JObject(List("a" -> JString("truncated"))))
      java.nio.file.Files.write(dir.resolve("batches.bson"),
        good ++ cut.take(cut.length - 3))
      dir
    }
    // the decode error itself, wherever the job failure carries it
    def rootMessage(e: Throwable): String = {
      val all = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString("\n")
      "truncated BSON document[^\n]*".r.findFirstIn(all).getOrElse(all)
    }
    val viaLoad = landing()
    val viaScan = landing()
    try {
      val landed = intercept[Exception](OpMsg.loadLanded(spark, viaLoad).collect())
      assert(!java.nio.file.Files.exists(viaLoad.resolve(GraftDocSource.InferSidecarName)))
      // the plain scan over the same bytes: the error a landing met
      // before the sidecar existed
      val plain = intercept[Exception](
        spark.read.format("graftdocs").load(viaScan.toString).collect())
      assert(rootMessage(landed) == rootMessage(plain))
      assert(rootMessage(landed).contains("truncated BSON document"))
    } finally { OpMsg.deleteDir(viaLoad); OpMsg.deleteDir(viaScan) }
  }
}
