package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.sources.GreaterThanOrEqual
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** A wire frame is built in driver memory from its cursor's documents:
  * `find` and `aggregate` return it without scheduling a Spark job, and
  * its schema and rows are exactly what a graftdocs read infers and
  * decodes from the same bytes written to a batch file — first-seen
  * field order, a field whose type first appears in a getMore batch,
  * int32 widened to int64 by a later batch, and the same error for a
  * truncated document. No client read leaves a file behind. */
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

  /** The documents of `cmd`'s cursor, fetched again by the test. */
  private def wireDocs(port: Int, cmd: String, batchSize: Int): Seq[Array[Byte]] = {
    val c = new OpMsg.Connection("127.0.0.1", port, "graft", None, None)
      .cursor(graft.mql.Mql.parse(cmd).asInstanceOf[JObject], "t", batchSize)
    try c.flatten.toVector finally c.close()
  }

  /** `docs` written to a batch file and read back by graftdocs with the
    * inference job (any finite `inferMaxDocs` runs it; this one samples
    * every document), collected before the file goes. */
  private def jobInferred(docs: Seq[Array[Byte]]): (StructType, Set[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_landed_ref")
    try {
      java.nio.file.Files.write(dir.resolve("batches.bson"), docs.flatten.toArray)
      val df = spark.read.format("graftdocs")
        .option("inferMaxDocs", (Long.MaxValue - 1).toString)
        .load(dir.toString)
      (df.schema, rows(df))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.json).toSet

  private def assertJobFree(what: String, docs: => Seq[Array[Byte]])
                           (frame: => DataFrame): Unit = {
    val (df, jobs) = clientJobs(frame)
    assert(jobs == 0, s"$what: $jobs Spark job(s) ran before the frame returned")
    val (schema, want) = jobInferred(docs)
    assert(df.schema == schema, s"$what: ${df.schema.treeString} vs ${schema.treeString}")
    assert(rows(df) == want)
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
      assertJobFree("find", wireDocs(server.port, """{"find": "t",
          "filter": {"_id": {"$gte": 1}}, "batchSize": 16, "$db": "graft"}""", 16)) {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "t",
          Seq(GreaterThanOrEqual("_id", 1L)), batchSize = 16)
      }
      assertJobFree("aggregate", wireDocs(server.port, """{"aggregate": "t",
          "pipeline": [{"$match": {"_id": {"$gte": 1}}}],
          "cursor": {"batchSize": 16}, "$db": "graft"}""", 16)) {
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
      assertJobFree("find", batches.flatten) {
        OpMsg.find(spark, "127.0.0.1", port, "graft", "t", batchSize = 3)
      }
      assertJobFree("aggregate", batches.flatten) {
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
    }
  }

  /** Two documents whose `a` is a string in the first and an int32 in
    * the second, as mongod serves them; `b` agrees. */
  private def mixedTypes: Seq[Seq[Array[Byte]]] = {
    val t = StructType(Seq(StructField("_id", LongType),
      StructField("a", StringType), StructField("b", IntegerType)))
    val u = t.copy(fields = t.fields.updated(1, StructField("a", IntegerType)))
    Seq(Seq(graft.bson.BsonBinary.encodeRow(Row(1L, "x", 10), t),
      graft.bson.BsonBinary.encodeRow(Row(2L, 7, 20), u)))
  }

  /** The message of the first GraftTypeError in `e`'s cause chain. */
  private def typeError(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: graft.bson.GraftTypeError => x.getMessage }
      .getOrElse(fail(s"no GraftTypeError in $e"))

  test("a field typed differently across documents decodes only at execution") {
    scripted(mixedTypes) { port =>
      val df = OpMsg.find(spark, "127.0.0.1", port, "graft", "t", batchSize = 3)
      assert(df.schema.map(f => f.name -> f.dataType) ==
        Seq("_id" -> LongType, "a" -> StringType, "b" -> IntegerType))
      // the pruned read never decodes `a`
      assert(df.select("b").collect().map(_.getInt(0)).toSeq == Seq(10, 20))
      // a read of `a` fails at execution with the strict graftdocs error
      val inMemory = intercept[Exception](df.collect())
      val plain = intercept[Exception](jobInferred(mixedTypes.flatten))
      assert(typeError(inMemory) == typeError(plain))
    }
  }

  test("graftwire infers a field typed differently across documents and nulls the mismatch") {
    scripted(mixedTypes) { port =>
      val df = spark.read.format("graftwire").option("host", "127.0.0.1")
        .option("port", port.toLong).option("collection", "t").load()
      assert(df.schema.map(f => f.name -> f.dataType) ==
        Seq("_id" -> LongType, "a" -> StringType, "b" -> IntegerType))
      assert(df.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2)))
        .toSet == Set((1L, Some("x"), 10), (2L, None, 20)))
    }
  }

  test("a truncated document fails with the plain scan's error") {
    val good = OpMsg.encodeDoc(JObject(List("a" -> JInt(1))))
    val cut = OpMsg.encodeDoc(JObject(List("a" -> JString("truncated"))))
    val docs = Seq(good, cut.take(cut.length - 3))
    // the decode error itself, wherever the job failure carries it
    def rootMessage(e: Throwable): String = {
      val all = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString("\n")
      "truncated BSON document[^\n]*".r.findFirstIn(all).getOrElse(all)
    }
    val inMemory = intercept[Exception](OpMsg.localFrame(spark, Seq(docs)).collect())
    val plain = intercept[Exception](jobInferred(docs))
    assert(rootMessage(inMemory) == rootMessage(plain))
    assert(rootMessage(inMemory).contains("truncated BSON document"))
  }

  test("no wire read leaves a file in java.io.tmpdir") {
    def landings(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .toSet.flatten.filter(_.startsWith("graft_opmsg"))
    val store = new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_landed_tmp").toString, "graftdocs")
    val schema = StructType(Seq(StructField("_id", LongType), StructField("n", IntegerType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      (1L to 50L).map(i => Row(i, i.toInt)): _*), schema)
    store.write(df, "t")
    // change history for watch: the second version inserts 26..50
    store.writeVersioned(df.where("_id <= 25"), "v"): Unit
    store.writeVersioned(df, "v"): Unit
    val server = new OpMsg.Server(spark, store, preload = true)
    try {
      val port = server.port
      val before = landings()
      def check(what: String)(read: => Long): Unit = {
        assert(read > 0, what)
        assert(landings() == before, s"$what left ${landings() -- before}")
      }
      check("find")(OpMsg.find(spark, "127.0.0.1", port, "graft", "t",
        batchSize = 16).count())
      check("aggregate")(OpMsg.aggregate(spark, "127.0.0.1", port, "graft", "t",
        "[]", batchSize = 16).count())
      check("watch")(OpMsg.watch(spark, "127.0.0.1", port, "graft", "v")._1.count())
      check("findParallel")(OpMsg.findParallel(spark, "127.0.0.1", port, "graft", "t",
        splitKey = "_id", numSplits = 3, batchSize = 16).count())
      val wire = spark.read.format("graftwire").option("host", "127.0.0.1")
        .option("port", port.toLong).option("collection", "t")
      check("graftwire inferSchema")(wire.load().schema.size.toLong)
      check("graftwire batch read")(wire.load().collect().length.toLong)
    } finally server.stop()
  }
}
