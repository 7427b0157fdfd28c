package graft.sources

import java.io.{EOFException, OutputStream}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The OP_MSG client's connection contract: a refusal reads as the
  * server's plain errmsg (never a json4s or Option rendering), a reply
  * to the wrong request or a server that hangs up raises, a cursor the
  * client gives up is killed before the failure surfaces, an exhaust
  * stream must end with the cursor closed, and a change cursor keeps
  * its id and is killed when the drive stops. The `graftwire` partition
  * reader streams its cursor: it asks for a batch only when it needs
  * one, kills the cursor on an early close or a failed getMore, and
  * writes no file. */
class OpMsgClientSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def assertPlain(e: Exception, serverText: String): Unit = {
    val m = e.getMessage
    assert(m.contains(serverText), m)
    assert(!m.contains("JString(") && !m.contains("Some("), m)
  }

  test("a refused command and a refused insert raise the server's plain errmsg") {
    val store = new graft.sinks.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_opmsg_client").toString,
      "graftdocs")
    val schema = StructType(Seq(StructField("_id", IntegerType),
      StructField("kind", StringType)))
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(Row(1, "a"), Row(2, "b")), schema), "items")
    val srv = new OpMsg.Server(spark, store)
    try {
      val e1 = intercept[IllegalArgumentException](OpMsg.command(
        "127.0.0.1", srv.port, "graft",
        JObject(List("listIndexes" -> JString("nope")))))
      assertPlain(e1, "ns does not exist")
      assert(e1.getMessage.startsWith("listIndexes failed: "), e1.getMessage)
      OpMsg.command("127.0.0.1", srv.port, "graft", JObject(List(
        "create" -> JString("a_items"), "viewOn" -> JString("items"),
        "pipeline" -> JArray(List(JObject(List("$match" -> JObject(List(
          "kind" -> JString("a")))))))))): Unit
      val ch = new OpMsg.InsertChannel("127.0.0.1", srv.port, "graft",
        "a_items", None, None, compress = false, checksum = false, "zlib")
      try {
        val e2 = intercept[IllegalArgumentException](ch.send(Seq(
          OpMsg.encodeDoc(JObject(List("_id" -> JInt(3), "kind" -> JString("a")))))))
        assertPlain(e2, "views are read-only")
        assert(e2.getMessage.startsWith("insert failed: "), e2.getMessage)
      } finally ch.close()
    } finally srv.stop()
  }

  /** What a scripted responder does with one request. */
  private sealed trait Act
  /** Answer with these frames: (responseTo offset from the request id,
    * flag bits, reply document). */
  private final case class Answer(frames: (Int, Int, Array[Byte])*) extends Act
  private case object HangUp extends Act

  private type Seen = java.util.concurrent.ConcurrentLinkedQueue[
    (String, Map[String, JValue], Int)]

  /** A mongod-shaped responder (the pattern of OpMsgLandedSchemaSpec's):
    * every request on every connection is recorded as (command name,
    * command, frame flags) and answered as `script` says for its
    * number on the connection. `body` gets the port and the record. */
  private def scripted(script: PartialFunction[(Int, Map[String, JValue]), Act])
                      (body: (Int, Seen) => Unit): Unit = {
    val seen: Seen = new java.util.concurrent.ConcurrentLinkedQueue()
    val ss = new java.net.ServerSocket(0, 4, java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try while (true) {
        val sock = ss.accept()
        try {
          val in = new java.io.BufferedInputStream(sock.getInputStream)
          val out: OutputStream = sock.getOutputStream
          var i = 0
          var open = true
          while (open) OpMsg.readFrame(in) match {
            case Some(f) =>
              val doc = OpMsg.decodeDoc(f.doc).obj
              val cmd = doc.toMap
              seen.add((doc.head._1, cmd, f.flags)): Unit
              script.lift((i, cmd)).getOrElse(HangUp) match {
                case Answer(frames @ _*) =>
                  frames.zipWithIndex.foreach { case ((dRto, flags, reply), k) =>
                    OpMsg.writeFrame(out, 1000 + i * 10 + k, f.requestId + dRto,
                      reply, flags, compress = false)
                  }
                case HangUp => open = false
              }
              i += 1
            case None => open = false
          }
        } catch { case _: java.io.IOException => () } // client hung up
        finally sock.close()
      } catch { case _: java.io.IOException => () } // listener closed: done
    })
    t.setDaemon(true)
    t.start()
    try body(ss.getLocalPort, seen) finally { ss.close(); t.join(10000) }
  }

  private def docs(ids: Int*): Seq[Array[Byte]] =
    ids.map(i => OpMsg.encodeDoc(JObject(List("_id" -> JInt(i)))))
  private def cursor(id: Long, first: Boolean, ids: Int*): Array[Byte] =
    OpMsg.buildCursorReply(id, "graft.t", if (first) "firstBatch" else "nextBatch",
      docs(ids: _*))
  private val okReply = OpMsg.encodeDoc(JObject(List("ok" -> JDouble(1.0))))
  private def names(seen: Seen): Seq[String] = {
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map(_._1)
  }
  private def killed(seen: Seen): Seq[JValue] = {
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.collect { case ("killCursors", c, _) => c("cursors") }
  }
  private val findCmd = JObject(List("find" -> JString("t"), "batchSize" -> JInt(1),
    "$db" -> JString("graft")))
  /** Every document of `findCmd`'s cursor, the cursor closed after. */
  private def drain(port: Int, exhaust: Boolean = false): Seq[Array[Byte]] = {
    val c = new OpMsg.Connection("127.0.0.1", port, "graft", None, None)
      .cursor(findCmd, "t", 1, exhaust)
    try c.flatten.toVector finally c.close()
  }

  test("a reply answering another request id raises IllegalStateException") {
    scripted { case (0, _) => Answer((1, 0, okReply)) } { (port, _) =>
      val e = intercept[IllegalStateException](OpMsg.command("127.0.0.1", port,
        "graft", JObject(List("ping" -> JInt(1)))))
      assert(e.getMessage.contains("responseTo"), e.getMessage)
    }
  }

  test("a server that closes before replying raises EOFException") {
    scripted(PartialFunction.empty) { (port, _) =>
      intercept[EOFException](OpMsg.command("127.0.0.1", port, "graft",
        JObject(List("ping" -> JInt(1)))))
    }
  }

  test("a refusal renders codeName, the plain errmsg and errorLabels") {
    val refusal = OpMsg.encodeDoc(JObject(List("ok" -> JDouble(0.0),
      "errmsg" -> JString("write conflict"), "code" -> JInt(112),
      "codeName" -> JString("WriteConflict"),
      "errorLabels" -> JArray(List(JString("TransientTransactionError"))))))
    scripted { case (0, _) => Answer((0, 0, refusal)) } { (port, _) =>
      val e = intercept[IllegalArgumentException](OpMsg.command("127.0.0.1",
        port, "graft", JObject(List("ping" -> JInt(1)))))
      assert(e.getMessage == "ping failed: [WriteConflict] write conflict " +
        "labels=TransientTransactionError")
    }
  }

  test("a getMore that fails mid-cursor kills the live cursor before the client rethrows") {
    val boom = OpMsg.encodeDoc(JObject(List("ok" -> JDouble(0.0),
      "errmsg" -> JString("getMore exploded"))))
    scripted {
      case (0, _) => Answer((0, 0, cursor(77L, first = true, 1)))
      case (1, c) if c.contains("getMore") => Answer((0, 0, boom))
      case (2, c) if c.contains("killCursors") => Answer((0, 0, okReply))
    } { (port, seen) =>
      val e = intercept[IllegalArgumentException](drain(port))
      assert(e.getMessage.contains("getMore exploded"), e.getMessage)
      assert(names(seen) == Seq("find", "getMore", "killCursors"))
      assert(killed(seen) == Seq(JArray(List(JLong(77L)))))
    }
  }

  test("an exhaust stream that ends with a live cursor raises") {
    scripted {
      case (0, _) => Answer((0, 0, cursor(77L, first = true, 1)))
      case (1, c) if c.contains("getMore") => Answer(
        (0, 0x2, cursor(77L, first = false, 2)), // moreToCome
        (0, 0, cursor(77L, first = false, 3)))   // last, yet id 77 lives
      case (2, c) if c.contains("killCursors") => Answer((0, 0, okReply))
    } { (port, seen) =>
      val e = intercept[IllegalStateException](drain(port, exhaust = true))
      assert(e.getMessage.contains("live cursor"), e.getMessage)
      import scala.jdk.CollectionConverters._
      // the getMore asked for the exhaust stream (exhaustAllowed, bit 16)
      assert(seen.asScala.exists { case (n, _, fl) =>
        n == "getMore" && (fl & 0x10000) != 0 })
    }
  }

  private val watchScript: PartialFunction[(Int, Map[String, JValue]), Act] = {
    case (0, c) if c.contains("aggregate") => Answer((0, 0, cursor(77L, first = true, 1)))
    case (_, c) if c.contains("killCursors") => Answer((0, 0, okReply))
  }

  test("watchFetch: a cursor id that changes mid-stream raises") {
    scripted(watchScript.orElse {
      case (1, c) if c.contains("getMore") => Answer((0, 0, cursor(78L, first = false, 2)))
    }) { (port, seen) =>
      val e = intercept[IllegalStateException](
        OpMsg.watchFetch("127.0.0.1", port, "graft", "t"))
      assert(e.getMessage.contains("changed mid-stream"), e.getMessage)
      assert(killed(seen) == Seq(JArray(List(JLong(77L)))))
    }
  }

  test("watchFetch: the live change cursor is killed when the drive stops") {
    scripted(watchScript.orElse {
      case (1, c) if c.contains("getMore") => Answer((0, 0, cursor(77L, first = false)))
    }) { (port, seen) =>
      val (docs, _) = OpMsg.watchFetch("127.0.0.1", port, "graft", "t")
      assert(docs.size == 1)
      assert(killed(seen) == Seq(JArray(List(JLong(77L)))))
    }
  }

  // ---- the graftwire partition reader ---------------------------------------

  private def wireReader(port: Int, idType: DataType = IntegerType) =
    new GraftWireReaderFactory(StructType(Seq(StructField("_id", idType))))
      .createColumnarReader(GraftWirePartition(GraftWireSource.Conn(
        "127.0.0.1", port, "graft", "t", batchSize = 1, credentials = None,
        tls = None, compress = false, compressor = "zlib", checksum = false,
        exhaust = false), "{}", Seq("_id")))

  /** Entries of java.io.tmpdir the wire client's landings were named by. */
  private def landings(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSet.flatten.filter(_.startsWith("graft_opmsg"))

  test("graftwire reader: a batch is asked for only when the decoder needs it, " +
       "and an early close kills the live cursor") {
    // a first batch larger than one decoded ColumnarBatch (4096 rows)
    scripted {
      case (0, _) => Answer((0, 0, cursor(77L, first = true, 1 to 5000: _*)))
      case (1, c) if c.contains("killCursors") => Answer((0, 0, okReply))
    } { (port, seen) =>
      val before = landings()
      val r = wireReader(port)
      try {
        assert(r.next())
        assert(r.get().numRows() == 4096)
        assert(r.get().column(0).getInt(4095) == 4096)
        assert(names(seen) == Seq("find"))
        assert(landings() == before, "the reader wrote a landing")
      } finally r.close()
      assert(names(seen) == Seq("find", "killCursors"))
      assert(killed(seen) == Seq(JArray(List(JLong(77L)))))
    }
  }

  test("graftwire reader: a failing getMore kills the cursor before the error surfaces") {
    val boom = OpMsg.encodeDoc(JObject(List("ok" -> JDouble(0.0),
      "errmsg" -> JString("getMore exploded"))))
    scripted {
      case (0, _) => Answer((0, 0, cursor(77L, first = true, 1)))
      case (1, c) if c.contains("getMore") => Answer((0, 0, boom))
      case (2, c) if c.contains("killCursors") => Answer((0, 0, okReply))
    } { (port, seen) =>
      val r = wireReader(port)
      try {
        val e = intercept[IllegalArgumentException](r.next())
        assert(e.getMessage.contains("getMore exploded"), e.getMessage)
        assert(names(seen) == Seq("find", "getMore", "killCursors"))
      } finally r.close()
      assert(names(seen) == Seq("find", "getMore", "killCursors"))
    }
  }

  test("graftwire reader: a declared type it cannot decode kills the cursor it opened") {
    scripted {
      case (0, _) => Answer((0, 0, cursor(77L, first = true, 1)))
      case (1, c) if c.contains("killCursors") => Answer((0, 0, okReply))
    } { (port, seen) =>
      val e = intercept[graft.bson.GraftTypeError](wireReader(port, FloatType))
      assert(e.getMessage.contains("unsupported declared type"), e.getMessage)
      assert(names(seen) == Seq("find", "killCursors"))
      assert(killed(seen) == Seq(JArray(List(JLong(77L)))))
    }
  }
}
