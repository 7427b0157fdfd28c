package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** TLS transport for the OP_MSG wire — the last connector layer. A
  * PKCS12 keystore is generated at test time with the JDK's own
  * keytool (SAN = ip:127.0.0.1,dns:localhost so REAL endpoint
  * identification passes — no hostname-check shortcuts), the server
  * terminates TLS from it, and the client pins it as the trust store.
  * Pins: authenticated find over TLS ≡ local; a plain client against
  * the TLS port fails the handshake; an untrusting client (empty/other
  * trust store) refuses the certificate. */
class OpMsgTlsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private lazy val keystore: (String, String) = {
    val dir = graft.TestDirs.temp("graft_tls")
    val path = dir.resolve("server.p12").toString
    val pw = "graft-test-pw"
    val keytool = new java.io.File(
      System.getProperty("java.home"), "bin/keytool").getAbsolutePath
    val cmd = Array(keytool, "-genkeypair", "-alias", "graft",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "3650",
      "-dname", "CN=localhost, O=graft-test",
      "-ext", "san=ip:127.0.0.1,dns:localhost",
      "-storetype", "PKCS12", "-keystore", path,
      "-storepass", pw, "-keypass", pw)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
    assert(proc.waitFor() == 0, s"keytool failed:\n$out")
    (path, pw)
  }

  private def fixture(tls: Option[(String, String)]) = {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_tls_srv").toString,
      "graftdocs")
    store.write(graft.api.Graft.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value")), "events")
    (store, new OpMsg.Server(spark, store, tls = tls,
      auth = Some(("pipeline", "s3cr3t"))))
  }

  test("authenticated find over TLS equals the local scan") {
    val (store, server) = fixture(Some(keystore))
    try {
      val wire = OpMsg.find(spark, "127.0.0.1", server.port, "graft",
        "events", Seq(GreaterThan("value", 0.5)), batchSize = 64,
        credentials = Some(("pipeline", "s3cr3t")), tls = Some(keystore))
      assert(wire.count() ==
        store.read("events").where(col("value") > 0.5).count())
      assert(wire.count() > 64) // getMore exercised under TLS too
    } finally server.stop()
  }

  test("a plaintext client against the TLS port fails, never hangs") {
    val (_, server) = fixture(Some(keystore))
    try {
      assert(intercept[Exception] {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "events",
          credentials = Some(("pipeline", "s3cr3t"))).count()
      }.getMessage != null)
    } finally server.stop()
  }

  test("an untrusting client refuses the server certificate") {
    val (_, server) = fixture(Some(keystore))
    // a DIFFERENT self-signed store: the server's cert chains to nothing
    val otherDir = graft.TestDirs.temp("graft_tls2")
    val other = otherDir.resolve("other.p12").toString
    val keytool = new java.io.File(
      System.getProperty("java.home"), "bin/keytool").getAbsolutePath
    val proc = new ProcessBuilder(keytool, "-genkeypair", "-alias", "x",
      "-keyalg", "RSA", "-keysize", "2048", "-dname", "CN=other",
      "-ext", "san=ip:127.0.0.1", "-storetype", "PKCS12",
      "-keystore", other, "-storepass", "pw2pw2", "-keypass", "pw2pw2")
      .redirectErrorStream(true).start()
    assert(proc.waitFor() == 0)
    try {
      val e = intercept[Exception] {
        OpMsg.find(spark, "127.0.0.1", server.port, "graft", "events",
          credentials = Some(("pipeline", "s3cr3t")),
          tls = Some((other, "pw2pw2"))).count()
      }
      assert(e.isInstanceOf[javax.net.ssl.SSLException] ||
        e.getCause.isInstanceOf[javax.net.ssl.SSLException] ||
        e.getMessage.toLowerCase.contains("cert"), e.toString)
    } finally server.stop()
  }
}
