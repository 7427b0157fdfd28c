package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Multi-document transactions over OP_MSG — mongod's
  * startTransaction / autocommit:false / commitTransaction protocol
  * (the shape every driver's withTransaction() speaks), implemented
  * as optimistic commit-time validation over the engine's staged-swap
  * store: reads inside the transaction see live-plus-own-writes as one
  * composed lazy plan, nothing lands until commit, and the first
  * committer wins (WriteConflict + TransientTransactionError for the
  * loser — the label driver retry loops key on). */
class OpMsgTxnSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("_id", IntegerType),
    StructField("kind", StringType),
    StructField("n", LongType)))

  private def fixture(): (graft.sinks.DocStore, OpMsg.Server) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_opmsg_txn").toString,
      "graftdocs")
    val items = Seq(
      Row(1, "a", 10L), Row(2, "b", 20L), Row(3, "a", 30L))
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(items: _*), schema), "items")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(Row(9, "q", 1L)), schema), "aux")
    (store, new OpMsg.Server(spark, store))
  }

  private def cmd(srv: OpMsg.Server, doc: (String, JValue)*)
      : Map[String, JValue] =
    OpMsg.command("127.0.0.1", srv.port, "graft", JObject(doc.toList))

  /** One in-transaction command: the op document plus the protocol
    * tail (startTransaction on the first op, autocommit: false on
    * every op, lsid + txnNumber addressing the session). */
  private def txnCmd(srv: OpMsg.Server, sid: String, txn: Long,
                     start: Boolean, doc: (String, JValue)*)
      : Map[String, JValue] =
    OpMsg.command("127.0.0.1", srv.port, "graft",
      JObject(doc.toList ++
        (if (start) List("startTransaction" -> (JBool(true): JValue))
         else Nil) :+ ("autocommit" -> (JBool(false): JValue))),
      session = Some((sid, txn)))

  private def commit(srv: OpMsg.Server, sid: String, txn: Long)
      : Map[String, JValue] =
    txnCmd(srv, sid, txn, start = false, "commitTransaction" -> JInt(1))

  private def abort(srv: OpMsg.Server, sid: String, txn: Long)
      : Map[String, JValue] =
    txnCmd(srv, sid, txn, start = false, "abortTransaction" -> JInt(1))

  private def batch(reply: Map[String, JValue])
      : List[Map[String, JValue]] =
    reply("cursor").asInstanceOf[JObject].obj.toMap
      .apply("firstBatch") match {
      case JArray(ds) => ds.map(_.asInstanceOf[JObject].obj.toMap)
      case other => fail(s"bad firstBatch $other")
    }

  private def ns(srv: OpMsg.Server, coll: String,
                 inTxn: Option[(String, Long)] = None): List[(BigInt, BigInt)] = {
    val find = List("find" -> (JString(coll): JValue),
      "sort" -> (JObject(List("_id" -> JInt(1))): JValue))
    val reply = inTxn match {
      case Some((sid, t)) => txnCmd(srv, sid, t, start = false, find: _*)
      case None => cmd(srv, find: _*)
    }
    batch(reply).map(d => (d("_id").asInstanceOf[JInt].num,
      d("n").asInstanceOf[JLong].num))
  }

  test("atomic visibility: update+insert+delete across two collections " +
       "stay invisible outside the transaction, compose inside it " +
       "(find/aggregate/count/distinct read-your-writes), and land " +
       "together at commit — change-free store bytes until then") {
    val (store, srv) = fixture()
    try {
      val sid = "txn-sess-1"
      val stampBefore = store.contentStamp("items")
      // op 1 (startTransaction): $inc n by 1 where kind = a (2 rows)
      val up = txnCmd(srv, sid, 1L, start = true,
        "update" -> JString("items"),
        "updates" -> JArray(List(JObject(List(
          "q" -> JObject(List("kind" -> JString("a"))),
          "u" -> JObject(List("$inc" -> JObject(List("n" -> JInt(1))))),
          "multi" -> JBool(true))))))
      assert(up("n") == JLong(2L) && up("nModified") == JLong(2L))
      // op 2: insert one doc into aux
      val ins = txnCmd(srv, sid, 1L, start = false,
        "insert" -> JString("aux"),
        "documents" -> JArray(List(JObject(List(
          "_id" -> JInt(10), "kind" -> JString("t"), "n" -> JLong(7L))))))
      assert(ins("n") == JInt(1))
      // op 3: delete _id 2 from items
      val del = txnCmd(srv, sid, 1L, start = false,
        "delete" -> JString("items"),
        "deletes" -> JArray(List(JObject(List(
          "q" -> JObject(List("_id" -> JInt(2))), "limit" -> JInt(0))))))
      assert(del("n") == JLong(1L))
      // OUTSIDE: nothing visible, store bytes untouched
      assert(ns(srv, "items") == List((1, 10), (2, 20), (3, 30)))
      assert(ns(srv, "aux") == List((9, 1)))
      assert(store.contentStamp("items") == stampBefore)
      // INSIDE: all three compose (find)
      assert(ns(srv, "items", Some((sid, 1L))) == List((1, 11), (3, 31)))
      assert(ns(srv, "aux", Some((sid, 1L))) == List((9, 1), (10, 7)))
      // INSIDE: aggregate ($group sum over the overlay), count, distinct
      val agg = txnCmd(srv, sid, 1L, start = false,
        "aggregate" -> JString("items"),
        "pipeline" -> JArray(List(JObject(List("$group" -> JObject(List(
          "_id" -> JNull,
          "total" -> JObject(List("$sum" -> JString("$n"))))))))),
        "cursor" -> JObject(Nil))
      assert(batch(agg).head("total") == JLong(42L))
      val cnt = txnCmd(srv, sid, 1L, start = false,
        "count" -> JString("items"), "query" -> JObject(Nil))
      assert(cnt("n") == JLong(2L))
      val dst = txnCmd(srv, sid, 1L, start = false,
        "distinct" -> JString("aux"), "key" -> JString("kind"))
      assert(dst("values") == JArray(List(JString("q"), JString("t"))))
      // commit: both collections flip together; retried commit re-acks
      assert(commit(srv, sid, 1L)("ok") == JDouble(1.0))
      assert(commit(srv, sid, 1L)("ok") == JDouble(1.0))
      assert(ns(srv, "items") == List((1, 11), (3, 31)))
      assert(ns(srv, "aux") == List((9, 1), (10, 7)))
      assert(store.contentStamp("items") != stampBefore)
    } finally srv.stop()
  }

  test("abort discards every staged write; the transaction number is " +
       "dead afterwards (NoSuchTransaction on further ops and commit, " +
       "TransactionTooOld on restart); abort of a committed " +
       "transaction refuses as TransactionCommitted") {
    val (_, srv) = fixture()
    try {
      val sid = "txn-sess-2"
      txnCmd(srv, sid, 1L, start = true,
        "delete" -> JString("items"),
        "deletes" -> JArray(List(JObject(List(
          "q" -> JObject(Nil), "limit" -> JInt(0))))))
      assert(ns(srv, "items", Some((sid, 1L))).isEmpty)
      assert(abort(srv, sid, 1L)("ok") == JDouble(1.0))
      assert(ns(srv, "items") == List((1, 10), (2, 20), (3, 30)))
      val e1 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 1L, start = false, "find" -> JString("items")))
      assert(e1.getMessage.contains("NoSuchTransaction") &&
        e1.getMessage.contains("TransientTransactionError"))
      val e2 = intercept[IllegalArgumentException](commit(srv, sid, 1L))
      assert(e2.getMessage.contains("NoSuchTransaction"))
      val e3 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 1L, start = true, "find" -> JString("items")))
      assert(e3.getMessage.contains("TransactionTooOld"))
      // a committed transaction cannot abort
      txnCmd(srv, sid, 2L, start = true, "find" -> JString("items"))
      commit(srv, sid, 2L)
      val e4 = intercept[IllegalArgumentException](abort(srv, sid, 2L))
      assert(e4.getMessage.contains("TransactionCommitted"))
    } finally srv.stop()
  }

  test("first committer wins: an outside write between start and " +
       "commit fails the commit with WriteConflict + " +
       "TransientTransactionError (reads validate too — a read-only " +
       "touch of the changed collection is enough); a fresh " +
       "transaction number retries cleanly") {
    val (_, srv) = fixture()
    try {
      val sid = "txn-sess-3"
      // txn 1 WRITES items, outside writer beats it to commit
      txnCmd(srv, sid, 1L, start = true,
        "update" -> JString("items"),
        "updates" -> JArray(List(JObject(List(
          "q" -> JObject(Nil),
          "u" -> JObject(List("$set" -> JObject(List(
            "kind" -> JString("txn"))))),
          "multi" -> JBool(true))))))
      cmd(srv, "update" -> JString("items"),
        "updates" -> JArray(List(JObject(List(
          "q" -> JObject(List("_id" -> JInt(1))),
          "u" -> JObject(List("$set" -> JObject(List(
            "n" -> JInt(99))))))))))
      val e = intercept[IllegalArgumentException](commit(srv, sid, 1L))
      assert(e.getMessage.contains("WriteConflict") &&
        e.getMessage.contains("TransientTransactionError"))
      // loser's writes never landed; the outside write survives
      assert(ns(srv, "items") == List((1, 99), (2, 20), (3, 30)))
      // retry on a new transaction number succeeds
      txnCmd(srv, sid, 2L, start = true,
        "update" -> JString("items"),
        "updates" -> JArray(List(JObject(List(
          "q" -> JObject(List("_id" -> JInt(2))),
          "u" -> JObject(List("$inc" -> JObject(List("n" -> JInt(5))))))))))
      commit(srv, sid, 2L)
      assert(ns(srv, "items") == List((1, 99), (2, 25), (3, 30)))
      // txn that only READS items then writes aux: still conflicts when
      // items changes underneath (serializable, not merely write-write)
      txnCmd(srv, sid, 3L, start = true, "find" -> JString("items"))
      txnCmd(srv, sid, 3L, start = false,
        "insert" -> JString("aux"),
        "documents" -> JArray(List(JObject(List(
          "_id" -> JInt(11), "kind" -> JString("r"), "n" -> JLong(1L))))))
      cmd(srv, "delete" -> JString("items"),
        "deletes" -> JArray(List(JObject(List(
          "q" -> JObject(List("_id" -> JInt(3))), "limit" -> JInt(0))))))
      val e2 = intercept[IllegalArgumentException](commit(srv, sid, 3L))
      assert(e2.getMessage.contains("WriteConflict"))
      assert(ns(srv, "aux") == List((9, 1)))
    } finally srv.stop()
  }

  test("a transaction that reads a collection right after an insert " +
       "commits: the inference sidecar the read writes is no content change") {
    val (_, srv) = fixture()
    try {
      cmd(srv, "insert" -> JString("items"),
        "documents" -> JArray(List(JObject(List(
          "_id" -> JInt(4), "kind" -> JString("b"), "n" -> JLong(40L))))))
      val sid = "txn-sess-sidecar"
      txnCmd(srv, sid, 1L, start = true, "find" -> JString("items"))
      txnCmd(srv, sid, 1L, start = false,
        "insert" -> JString("aux"),
        "documents" -> JArray(List(JObject(List(
          "_id" -> JInt(12), "kind" -> JString("s"), "n" -> JLong(2L))))))
      assert(commit(srv, sid, 1L)("ok") == JDouble(1.0))
      assert(ns(srv, "aux") == List((9, 1), (12, 2)))
    } finally srv.stop()
  }

  test("read/write concern validation: levels accepted incl. snapshot " +
       "on the first txn op, unknown level refuses, readConcern on a " +
       "NON-first txn op and writeConcern on a non-commit txn op " +
       "answer InvalidOptions (mongod contract)") {
    val (_, srv) = fixture()
    try {
      val sid = "rc-sess"
      // snapshot readConcern on the FIRST op: the driver's txn shape
      txnCmd(srv, sid, 1L, start = true, "find" -> JString("items"),
        "readConcern" -> JObject(List("level" -> JString("snapshot"))))
      val e1 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 1L, start = false, "find" -> JString("items"),
          "readConcern" -> JObject(List("level" -> JString("snapshot")))))
      assert(e1.getMessage.contains("InvalidOptions"))
      val e2 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 1L, start = false,
          "delete" -> JString("items"),
          "deletes" -> JArray(List(JObject(List(
            "q" -> JObject(Nil), "limit" -> JInt(0))))),
          "writeConcern" -> JObject(List("w" -> JString("majority")))))
      assert(e2.getMessage.contains("InvalidOptions"))
      // writeConcern on the commit itself is the correct driver shape
      txnCmd(srv, sid, 1L, start = false,
        "commitTransaction" -> JInt(1),
        "writeConcern" -> JObject(List("w" -> JString("majority"),
          "j" -> JBool(true))))
      // plain ops: every known level accepted, unknown refused
      cmd(srv, "find" -> JString("items"),
        "readConcern" -> JObject(List("level" -> JString("majority"))))
      val e3 = intercept[IllegalArgumentException](cmd(srv,
        "find" -> JString("items"),
        "readConcern" -> JObject(List("level" -> JString("quorum")))))
      assert(e3.getMessage.contains("not recognized"))
      val e4 = intercept[IllegalArgumentException](cmd(srv,
        "insert" -> JString("items"),
        "documents" -> JArray(List(JObject(List("_id" -> JInt(50),
          "kind" -> JString("x"), "n" -> JLong(0L))))),
        "writeConcern" -> JObject(List("fsync" -> JBool(true)))))
      assert(e4.getMessage.contains("unsupported field 'fsync'"))
    } finally srv.stop()
  }

  test("transaction lifetime limit: an active transaction left open " +
       "past transactionLifetimeLimitSeconds aborts server-side — the " +
       "next touch and the commit answer NoSuchTransaction, staged " +
       "writes never land") {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_txn_ttl").toString,
      "graftdocs")
    store.write(spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1, "a", 10L)),
      schema), "items")
    val srv = new OpMsg.Server(spark, store, txnLifetimeSeconds = 0L)
    try {
      val sid = "ttl-sess"
      txnCmd(srv, sid, 1L, start = true,
        "delete" -> JString("items"),
        "deletes" -> JArray(List(JObject(List(
          "q" -> JObject(Nil), "limit" -> JInt(0))))))
      // lifetime 0: the sweeper (every request) has already reaped it
      val e1 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 1L, start = false, "find" -> JString("items")))
      assert(e1.getMessage.contains("NoSuchTransaction"))
      val e2 = intercept[IllegalArgumentException](commit(srv, sid, 1L))
      assert(e2.getMessage.contains("NoSuchTransaction"))
      assert(ns(srv, "items") == List((BigInt(1), BigInt(10))))
    } finally srv.stop()
  }

  test("protocol refusals: unknown txnNumber, restart of an active " +
       "transaction, startTransaction without autocommit:false, DDL / " +
       "$out / bulkWrite / implicit-create inside a transaction, and " +
       "findAndModify stages its effect until commit") {
    val (_, srv) = fixture()
    try {
      val sid = "txn-sess-4"
      val e0 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 7L, start = false, "find" -> JString("items")))
      assert(e0.getMessage.contains("NoSuchTransaction"))
      txnCmd(srv, sid, 8L, start = true, "find" -> JString("items"))
      val e1 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 8L, start = true, "find" -> JString("items")))
      assert(e1.getMessage.contains("ConflictingOperationInProgress"))
      val e2 = intercept[IllegalArgumentException](
        cmd(srv, "find" -> JString("items"),
          "startTransaction" -> JBool(true)))
      assert(e2.getMessage.contains("autocommit"))
      val e3 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 8L, start = false, "drop" -> JString("aux")))
      assert(e3.getMessage.contains("OperationNotSupportedInTransaction"))
      val e4 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 8L, start = false,
          "aggregate" -> JString("items"),
          "pipeline" -> JArray(List(JObject(List(
            "$out" -> JString("items_out"))))),
          "cursor" -> JObject(Nil)))
      assert(e4.getMessage.contains("OperationNotSupportedInTransaction"))
      val e5 = intercept[IllegalArgumentException](
        txnCmd(srv, sid, 8L, start = false,
          "insert" -> JString("brand_new"),
          "documents" -> JArray(List(JObject(List("_id" -> JInt(1)))))))
      assert(e5.getMessage.contains("implicitly create"))
      // findAndModify inside a fresh transaction (the failed insert
      // aborted txn 8, mongod-style): post-image answers inside,
      // nothing lands until commit
      val e6 = intercept[IllegalArgumentException](commit(srv, sid, 8L))
      assert(e6.getMessage.contains("NoSuchTransaction"))
      val fam = txnCmd(srv, sid, 9L, start = true,
        "findAndModify" -> JString("items"),
        "query" -> JObject(List("_id" -> JInt(1))),
        "update" -> JObject(List("$inc" -> JObject(List("n" -> JInt(100))))),
        "new" -> JBool(true))
      assert(fam("value").asInstanceOf[JObject].obj.toMap
        .apply("n") == JLong(110L))
      assert(ns(srv, "items").head == ((BigInt(1), BigInt(10))))
      commit(srv, sid, 9L)
      assert(ns(srv, "items").head == ((BigInt(1), BigInt(110))))
    } finally srv.stop()
  }
}
