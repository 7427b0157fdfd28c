package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** SCRAM-SHA-256 conformance and the authenticated OP_MSG loop. The
  * crypto is pinned against RFC 7677's published test vector (user
  * "user", password "pencil", fixed nonces) — every message of the
  * conversation must match the RFC byte for byte — plus the refusal
  * matrix: wrong password, tampered server signature (mutual auth),
  * unauthenticated commands, low iteration counts, foreign nonces. */
class ScramSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val user = "user"
  private val pass = "pencil"
  private val cNonce = "rOprNGfwEbeRWgbNEkqO"
  private val sNonce = "%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0"
  private val saltB64 = "W22ZaJ0SNY7soEsUEjb6gQ=="

  private def rfcServer(): Scram.Server =
    new Scram.Server(user, Scram.credential(pass,
      java.util.Base64.getDecoder.decode(saltB64), 4096), sNonce)

  test("RFC 7677 test vector: the full conversation, byte for byte") {
    val c = new Scram.Client(user, pass, cNonce)
    val s = rfcServer()
    assert(c.clientFirst == "n,,n=user,r=rOprNGfwEbeRWgbNEkqO")
    val sf = s.serverFirst(c.clientFirst)
    assert(sf == "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    val cf = c.clientFinal(sf)
    assert(cf == "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    val fin = s.serverFinal(cf)
    assert(fin == "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    c.verifyServerFinal(fin) // must not throw
  }

  test("wrong password: server refuses the proof") {
    val c = new Scram.Client(user, "pencil2", cNonce)
    val s = rfcServer()
    val cf = c.clientFinal(s.serverFirst(c.clientFirst))
    assert(intercept[SecurityException](s.serverFinal(cf))
      .getMessage.contains("bad proof"))
  }

  test("mutual auth: a forged server signature is rejected client-side") {
    val c = new Scram.Client(user, pass, cNonce)
    val s = rfcServer()
    s.serverFinal(c.clientFinal(s.serverFirst(c.clientFirst))): Unit
    assert(intercept[SecurityException](c.verifyServerFinal(
      "v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA="))
      .getMessage.contains("server signature"))
  }

  test("protocol refusals: foreign nonce, low iterations, bad names") {
    val c = new Scram.Client(user, pass, cNonce)
    assert(intercept[SecurityException](c.clientFinal(
      "r=completelyDifferent,s=" + saltB64 + ",i=4096"))
      .getMessage.contains("nonce"))
    val c2 = new Scram.Client(user, pass, cNonce)
    assert(intercept[SecurityException](c2.clientFinal(
      s"r=${cNonce}xyz,s=$saltB64,i=100"))
      .getMessage.contains("iteration"))
    // ',' in a username no longer refuses — it escapes per RFC 5802
    // (the full escaping matrix lives in SaslPrepSpec)
    assert(new Scram.Client("na,me", pass).clientFirstBare
      .startsWith("n=na=2Cme,r="))
    // unknown user refused server-side
    val s = rfcServer()
    assert(intercept[SecurityException](
      s.serverFirst("n,,n=mallory,r=" + cNonce))
      .getMessage.contains("unknown user"))
  }

  test("authenticated OP_MSG find: handshake then cursor loop; " +
       "unauthenticated and wrongly-authenticated commands refuse") {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_scram_srv").toString,
      "graftdocs")
    store.write(graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value")), "events")
    val server = new OpMsg.Server(spark, store,
      auth = Some(("pipeline", "s3cr3t-pw")))
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.5)), batchSize = 64,
        credentials = Some(("pipeline", "s3cr3t-pw")))
      val local = store.read("events").where(col("value") > 0.5)
      assert(wire.count() == local.count() && wire.count() > 64)
      // no credentials → the find command itself is refused
      assert(intercept[Exception] {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "events")
          .count()
      }.getMessage.contains("requires authentication"))
      // wrong password → refused during the handshake
      assert(intercept[Exception] {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "events",
          credentials = Some(("pipeline", "wrong"))).count()
      }.getMessage.toLowerCase.contains("auth"))
    } finally server.stop()
  }
}
