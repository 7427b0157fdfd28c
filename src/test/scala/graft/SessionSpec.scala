package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** [[Session]]: the one builder every main and the test base share. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("Session.local(4) carries exactly the bench settings") {
    assert(Session.settings(4) == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    val s = Session.local(4)
    Session.settings(4).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.sparkContext.master == "local[4]")
  }

  test("a second Session.local on a live session registers nothing twice; " +
       "word_shingles resolves") {
    spark // the live session
    val first = Session.local(4)
    val id = FunctionIdentifier("word_shingles")
    val info = first.sessionState.functionRegistry.lookupFunction(id)
    assert(info.exists(_.getClassName == "graft.functions.GraftFunctions"))
    val again = Session.local(4)
    graft.functions.GraftFunctions.register(again)
    assert(again eq first)
    // the extension's registration stands: neither the builder nor the
    // imperative register replaced it
    assert(again.sessionState.functionRegistry.lookupFunction(id) == info)
    assert(again.sql("SELECT size(word_shingles(array('a','b','c','d'), 2))").head.getInt(0) == 3)
    // idempotence keys on the name, so no engine function may shadow a
    // Spark built-in (register would silently keep the built-in)
    val shadowing = graft.functions.GraftFunctions.registrations.map(_._1)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty, shadowing)
  }

  test("a malformed SPARK_GRAFT_EXTRA_CONF entry is refused by name") {
    assert(Session.parseExtraConf("a.b=1; c=x=y ;;") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Session.parseExtraConf("") == Nil)
    for (bad <- Seq("spark.sql.shuffle.partitions", "=3")) {
      val e = intercept[IllegalArgumentException](
        Session.parseExtraConf(s"k=v;$bad"))
      assert(e.getMessage.contains(s"'$bad'") &&
        e.getMessage.contains("SPARK_GRAFT_EXTRA_CONF"), e.getMessage)
    }
  }
}
