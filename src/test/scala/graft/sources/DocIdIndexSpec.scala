package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Persisted id → (file, offset, length) index + point fetch: the
  * engine's `_id`-index twin. The scale claims under test: a fetch
  * performs ONE ranged read per document (proved by corrupting every
  * other file), `update` folds new files without rescanning indexed
  * history, and staleness fails loudly instead of returning garbage. */
class DocIdIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_idx").toString

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def listFiles(path: String, suffix: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
      .filter(f => !f.getName.startsWith(".") && f.getName.endsWith(suffix))
  }

  test("build → fetch round-trips exact rows (jsonl + bson, multi-file)") {
    for (fmt <- Seq("jsonl", "bson")) {
      val data = tmp(); val idx = tmp()
      orders.repartition(4).write.format("graftdocs").option("format", fmt)
        .mode("overwrite").save(data)
      DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
      val got = DocIdIndex.fetch(spark, idx, orders.schema,
        Seq(1L, 7L, 33L, 250L)).orderBy("o_orderkey").collect().toSeq
      val expect = orders.where($"o_orderkey".isin(1L, 7L, 33L, 250L))
        .orderBy("o_orderkey").collect().toSeq
      assert(got == expect, s"[$fmt]")
      // a miss is simply absent, never an error
      assert(DocIdIndex.fetch(spark, idx, orders.schema,
        Seq(999999999L)).count() == 0, s"[$fmt]")
    }
  }

  test("fetch is a ranged read: every non-target file can be garbage") {
    val data = tmp(); val idx = tmp()
    orders.repartition(8).write.format("graftdocs")
      .mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
    val target = spark.read.parquet(idx)
      .where($"id" === "42").select("path").head.getString(0)
    listFiles(data, ".jsonl")
      .filterNot(f => target.endsWith(f.getName))
      .foreach { f =>
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)('x'))
        new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
      }
    val got = DocIdIndex.fetch(spark, idx, orders.schema, Seq(42L)).collect()
    assert(got.toSeq == orders.where($"o_orderkey" === 42L).collect().toSeq)
  }

  test("a file that changed since indexing refuses loudly") {
    val data = tmp(); val idx = tmp()
    orders.limit(50).coalesce(1).write.format("graftdocs")
      .mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
    val f = listFiles(data, ".jsonl").head
    java.nio.file.Files.write(f.toPath, "\n".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    val e = intercept[Exception] {
      DocIdIndex.fetch(spark, idx, orders.schema, Seq(1L)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("changed since indexing")),
      e.toString)
  }

  test("update folds new files without touching indexed history") {
    val data = tmp(); val idx = tmp()
    val a = orders.where($"o_orderkey" < 500)
    val b = orders.where($"o_orderkey" >= 500 && $"o_orderkey" < 700)
    a.write.format("graftdocs").mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
    val before = listFiles(idx, ".parquet")
      .map(f => f.getName -> f.lastModified()).toMap
    b.write.format("graftdocs").mode("append").save(data)
    DocIdIndex.update(spark, data, "o_orderkey", orders.schema, idx)
    // history parquet untouched (no rescan, no rewrite)
    val after = listFiles(idx, ".parquet")
      .map(f => f.getName -> f.lastModified()).toMap
    assert(before.forall { case (n, m) => after.get(n).contains(m) },
      "update rewrote indexed history")
    assert(after.size > before.size, "update appended nothing")
    // fold ≡ from-scratch: same (id, offset) entry set
    val idx2 = tmp()
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx2)
    val folded = spark.read.parquet(idx).select("id", "path", "offset")
      .collect().toSet
    val scratch = spark.read.parquet(idx2).select("id", "path", "offset")
      .collect().toSet
    assert(folded == scratch)
    // and fetch crosses the epoch boundary
    val got = DocIdIndex.fetch(spark, idx, orders.schema, Seq(499L, 500L))
      .orderBy("o_orderkey").collect().toSeq
    assert(got == orders.where($"o_orderkey".isin(499L, 500L))
      .orderBy("o_orderkey").collect().toSeq)
  }

  test("update drops entries of vanished files") {
    val data = tmp(); val idx = tmp()
    orders.limit(200).repartition(4).write.format("graftdocs")
      .mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
    val victim = listFiles(data, ".jsonl").head
    val victimPath = spark.read.parquet(idx)
      .where($"path".endsWith(victim.getName)).select("path").head.getString(0)
    val victimIds = spark.read.parquet(idx)
      .where($"path" === victimPath).select("id").as[String].collect().toSet
    assert(victim.delete())
    DocIdIndex.update(spark, data, "o_orderkey", orders.schema, idx)
    val remaining = spark.read.parquet(idx).select("id").as[String].collect().toSet
    assert(remaining.intersect(victimIds).isEmpty)
  }

  test("update over a many-file layout never collects the indexed path " +
       "universe — membership is join-decided") {
    val data = tmp(); val idx = tmp()
    // many small files: the indexed path universe is 64 files, the
    // arriving batch is 1 — only the latter's paths may reach the driver
    orders.limit(640).repartition(64).write.format("graftdocs")
      .mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "o_orderkey", orders.schema, idx)
    orders.where($"o_orderkey" >= 900 && $"o_orderkey" < 910)
      .coalesce(1).write.format("graftdocs").mode("append").save(data)
    // record every Dataset action's analyzed plan during the update
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.analyzed): Unit
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      DocIdIndex.update(spark, data, "o_orderkey", orders.schema, idx)
      // listener bus is async — wait until the update's actions landed
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (plans.size() < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    def scansIndex(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(idx))
            case _ => false
          }
        case _ => false
      }
    val indexReads = plans.asScala.toList.filter(scansIndex)
    assert(indexReads.nonEmpty, "update never read the index?")
    // the old shape — a bare index.select(path).distinct().collect() —
    // has no Join; every index read must decide membership via a join
    // against the listing
    indexReads.foreach { p =>
      assert(p.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
        s"index scanned without a join (path-universe collect shape):\n$p")
    }
    // and the fold stayed correct: fresh file indexed, fetch works
    val got = DocIdIndex.fetch(spark, idx, orders.schema, Seq(905L))
      .collect()
    assert(got.length == orders.where($"o_orderkey" === 905L).count())
  }

  test("string ids and multi-byte text keep byte-accurate offsets") {
    val df = Seq(
      ("id-a", "plain"), ("id-ü", "ünïcode — ™ text"), ("id-c", "日本語テキスト"),
      ("id-d", "after the wide rows")).toDF("k", "txt")
    for (fmt <- Seq("jsonl", "bson")) {
      val data = tmp(); val idx = tmp()
      df.coalesce(1).write.format("graftdocs").option("format", fmt)
        .mode("overwrite").save(data)
      DocIdIndex.build(spark, data, "k", df.schema, idx)
      val got = DocIdIndex.fetch(spark, idx, df.schema,
        Seq("id-c", "id-d")).orderBy("k").collect().toSeq
      assert(got == df.where($"k".isin("id-c", "id-d")).orderBy("k")
        .collect().toSeq, s"[$fmt]")
    }
  }

  test("duplicate ids return every match; contract violations refuse loudly") {
    val dup = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val data = tmp(); val idx = tmp()
    dup.coalesce(1).write.format("graftdocs").mode("overwrite").save(data)
    DocIdIndex.build(spark, data, "k", dup.schema, idx)
    assert(DocIdIndex.fetch(spark, idx, dup.schema, Seq(1L))
      .select("v").as[String].collect().toSet == Set("x", "y"))
    // null id at build
    val withNull = Seq[(java.lang.Long, String)]((3L, "a"), (null, "b"))
      .toDF("k", "v")
    val d2 = tmp()
    withNull.coalesce(1).write.format("graftdocs").mode("overwrite").save(d2)
    val e = intercept[Exception] {
      DocIdIndex.build(spark, d2, "k", withNull.schema, tmp())
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("ids must be non-null")), e.toString)
    // the id column must be a DOCUMENT column, not a partition column
    val d3 = tmp()
    dup.write.format("graftdocs").option("partitionBy", "k")
      .mode("overwrite").save(d3)
    val e2 = intercept[IllegalArgumentException] {
      DocIdIndex.build(spark, d3, "k", dup.schema, tmp())
    }
    assert(e2.getMessage.contains("is a partition column"))
    // null fetch id
    val e3 = intercept[IllegalArgumentException] {
      DocIdIndex.fetch(spark, idx, dup.schema, Seq(null))
    }
    assert(e3.getMessage.contains("null id"))
  }

  test("partitioned layouts: fetch re-attaches typed partition values") {
    val df = Seq(
      (1L, 10, "x"), (2L, 10, "y"), (3L, 20, "z"),
      (4L, 20, "w"))
      .toDF("id", "bucket", "v")
      .union(Seq((5L, null.asInstanceOf[java.lang.Integer], "n"))
        .map(t => (t._1, t._2, t._3)).toDF("id", "bucket", "v"))
    val data = tmp(); val idx = tmp()
    df.write.format("graftdocs").option("partitionBy", "bucket")
      .mode("overwrite").save(data)
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields)
    DocIdIndex.build(spark, data, "id", schema, idx)
    val got = DocIdIndex.fetch(spark, idx, schema, Seq(2L, 3L, 5L))
      .orderBy("id").collect().toSeq
    // full rows come back — bucket (a directory value) is typed INT,
    // and the hive null sentinel is a real NULL
    assert(got.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getInt(1), r.getString(2))) ==
      Seq((2L, 10, "y"), (3L, 20, "z"), (5L, null, "n")))
    // fold across partitions: new partition dir arrives, update indexes it
    Seq((6L, 30, "q")).toDF("id", "bucket", "v")
      .write.format("graftdocs").option("partitionBy", "bucket")
      .mode("append").save(data)
    DocIdIndex.update(spark, data, "id", schema, idx)
    assert(DocIdIndex.fetch(spark, idx, schema, Seq(6L))
      .head.getInt(1) == 30)
  }
}
