package graft.sinks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** DocStore.compact: the OPTIMIZE verb for streaming-ingest file
  * spray — fewer files, identical rows/schema/layout/tags. */
class DocStoreCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def dataFiles(root: String, rel: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/$rel"))
      .map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(n => n.endsWith(".jsonl") || n.endsWith(".bson")) // not .zmap sidecars
      .sorted
  }

  test("unpartitioned: 16-file spray → 1 file, rows and tags intact") {
    val root = graft.TestDirs.temp("cpt_flat").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    store.write(df.repartition(16), "c", tags = Map("batchId" -> "42"))
    assert(dataFiles(root, "c").size == 16)
    store.compact("c")
    assert(dataFiles(root, "c").size == 1)
    assert(store.read("c").orderBy("id").as[(Long, String)].collect().toSeq ==
      (1 to 500).map(i => (i.toLong, s"v$i")))
    assert(store.readTag("c", "batchId").contains("42"))
  }

  test("drop and rename: Mongo admin-command semantics") {
    val root = graft.TestDirs.temp("cpt_admin").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    store.write(df, "x", tags = Map("batchId" -> "3"))
    // rename carries contents and tags; the old name is gone
    store.rename("x", "y")
    assert(!store.exists("x") && store.exists("y"))
    assert(store.read("y").count() == 2)
    assert(store.readTag("y", "batchId").contains("3"))
    // rename onto an existing target needs dropTarget, like Mongo
    store.write(df, "z")
    intercept[graft.mql.MqlException](store.rename("y", "z"))
    store.rename("y", "z", dropTarget = true)
    assert(!store.exists("y") && store.read("z").count() == 2)
    // drop is idempotent-by-result
    assert(store.drop("z"))
    assert(!store.exists("z") && !store.drop("z"))
    intercept[graft.mql.MqlException](store.rename("nope", "w"))
  }

  test("partitioned: per-partition compaction keeps the hive layout") {
    val root = graft.TestDirs.temp("cpt_part").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = (1 to 300).map(i => (i.toLong, (i % 3).toString, i * 1.5))
      .toDF("id", "k", "v")
    store.overwritePartitions(df.repartition(12), "p", Seq("k"),
      tags = Map("batchId" -> "9"))
    val before = Seq("k=0", "k=1", "k=2").map(d => dataFiles(root, s"p/$d").size)
    assert(before.forall(_ > 1), s"expected a spray, got $before")
    store.compact("p")
    Seq("k=0", "k=1", "k=2").foreach(d =>
      assert(dataFiles(root, s"p/$d").size == 1, s"$d not compacted"))
    assert(store.partitionColumnsOf("p") == Seq("k"))
    assert(store.read("p").count() == 300)
    assert(store.read("p").groupBy("k").count().orderBy("k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("0", 100L), ("1", 100L), ("2", 100L)))
    assert(store.readTag("p", "batchId").contains("9"))
  }
}
