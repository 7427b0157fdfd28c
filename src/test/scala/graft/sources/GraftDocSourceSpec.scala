package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.sinks.DocWriter

/** Full connector round trip: DocWriter sink → graftdocs DSv2 source,
  * with plan-level pruning assertions (the Spark analogue of the
  * reference's wire-protocol projection assertions,
  * test_arrow.py:128-130,154-156). */
class GraftDocSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def writeDocs(): (String, org.apache.spark.sql.DataFrame) = {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val path = graft.TestDirs.temp("graft_dsv2").toString
    DocWriter.write(df, path)
    (path, df)
  }

  test("sink → source round trip preserves values") {
    val (path, df) = writeDocs()
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
  }

  test("column pruning reaches the decoder (projection synthesis twin)") {
    val (path, df) = writeDocs()
    val q = spark.read.format("graftdocs").schema(df.schema).load(path)
      .select("c_custkey", "c_acctbal")
    val plan = q.queryExecution.executedPlan.toString
    // DSv2 BatchScan lists exactly the columns handed to the decoder
    assert("BatchScan[^\\[]*\\[c_custkey#\\d+L, c_acctbal#\\d+\\]".r
      .findFirstIn(plan).isDefined, s"decoder not pruned:\n$plan")
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    assert(scan.schema.fieldNames.toSeq == Seq("c_custkey", "c_acctbal"))
    assert(q.count() == df.count())
  }

  test("filters skip rows at decode time; results stay correct") {
    val (path, df) = writeDocs()
    val q = spark.read.format("graftdocs").schema(df.schema).load(path)
      .where($"c_acctbal" > 5000.0)
    val got = q.collect().length.toLong
    assert(got == df.where($"c_acctbal" > 5000.0).count())
    // the predicate reached the decoder: non-matching rows were skipped
    // before Catalyst conversion, matching ones emitted
    val counts = ScanCountsOf(q)
    assert(counts.skipped == df.count() - got)
    assert(counts.emitted == got)
    // a Not-wrapped filter is not pushed (conservative-keep would
    // invert into a wrong drop) but still evaluates correctly post-scan
    val neq = spark.read.format("graftdocs").schema(df.schema).load(path)
      .where(!($"c_mktsegment" === "BUILDING")).count()
    assert(neq == df.where($"c_mktsegment" =!= "BUILDING").count())
  }

  test("decode counters are per query: two scans over different files, " +
       "run at the same time, each count only their own documents") {
    val sizes = Seq(300L, 700L)
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", LongType)))
    val queries = sizes.map { n =>
      val dir = graft.TestDirs.temp("graft_scan_metrics").toString
      spark.range(n).selectExpr("id", "id % 3 as k").repartition(2)
        .write.format("graftdocs").option("format", "bson").mode("overwrite").save(dir)
      spark.read.format("graftdocs").schema(schema).load(dir).where($"k" === 0)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val got = Await.result(Future.sequence(
      queries.map(q => Future(q.collect().length.toLong))),
      scala.concurrent.duration.Duration(2, "min"))
    for (((q, n), rows) <- queries.zip(sizes).zip(got)) {
      val counts = ScanCountsOf(q)
      assert(rows == (n + 2) / 3)
      assert(counts == ScanCountsOf.Counts(emitted = rows, skipped = n - rows),
        s"$n documents: $counts")
    }
  }

  test("decode counters sum over every reader of a storage-partitioned " +
       "key group") {
    // a hive layout reports key-grouped partitioning: each task reads
    // all files of one partition value, one reader after another
    val dir = graft.TestDirs.temp("graft_scan_metrics_spj").toString
    spark.range(600).selectExpr("id", "id % 3 as k").repartition(4)
      .write.format("graftdocs").option("format", "bson").option("partitionBy", "k")
      .mode("overwrite").save(dir)
    val q = spark.read.format("graftdocs")
      .schema(StructType(Seq(StructField("id", LongType), StructField("k", LongType))))
      .load(dir)
    assert(q.rdd.getNumPartitions == 3)
    assert(q.collect().length == 600)
    assert(ScanCountsOf(q) == ScanCountsOf.Counts(emitted = 600, skipped = 0))
  }

  test("schema inference over the files (inferred mode)") {
    val (path, _) = writeDocs()
    val inferred = spark.read.format("graftdocs").load(path)
    assert(inferred.schema.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    // ints in extended JSON ($numberLong) stay longs
    assert(inferred.schema("c_custkey").dataType == LongType)
  }

  test("allowInvalid option nulls mismatches instead of failing") {
    val path = graft.TestDirs.temp("graft_dsv2b").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "batch.jsonl"),
      """{"a": 1}
        |{"a": "oops"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("a", IntegerType)))
    val strictErr = intercept[Exception] {
      spark.read.format("graftdocs").schema(schema).load(path).collect()
    }
    assert(strictErr.getMessage.contains("unexpected type") ||
      Option(strictErr.getCause).exists(_.getMessage.contains("unexpected type")))
    val lax = spark.read.format("graftdocs").schema(schema)
      .option("allowInvalid", "true").load(path)
    assert(lax.collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq
      == Seq(1, null))
  }

  test("byte-range splits: tiny maxSplitBytes reads every row exactly once") {
    val (path, df) = writeDocs()
    val split = spark.read.format("graftdocs").schema(df.schema)
      .option("maxSplitBytes", "512") // force many newline-aligned splits
      .load(path)
    assert(split.rdd.getNumPartitions > 4, "expected multiple splits")
    assert(split.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
  }

  test("DSv2 write: df.write.format(graftdocs) round trips; overwrite truncates") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val path = graft.TestDirs.temp("graft_dsv2w").toString
    df.write.format("graftdocs").mode("append").save(path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
    // append adds; overwrite truncates back to one copy
    df.limit(10).write.format("graftdocs").mode("append").save(path)
    assert(spark.read.format("graftdocs").schema(df.schema).load(path).count()
      == df.count() + 10)
    df.write.format("graftdocs").mode("overwrite").save(path)
    assert(spark.read.format("graftdocs").schema(df.schema).load(path).count()
      == df.count())
  }

  test("binary BSON files: write format=bson, read back through the same scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val path = graft.TestDirs.temp("graft_bson").toString
    df.write.format("graftdocs").option("format", "bson").mode("append").save(path)
    val files = new java.io.File(path).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // local-FS checksum shadows
      .filterNot(_.endsWith(".zmap")) // zone-map sidecars ride along
    assert(files.nonEmpty && files.forall(_.endsWith(".bson")), files.toSeq.toString)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
    // inference works over binary documents too
    val inferred = spark.read.format("graftdocs").load(path)
    assert(inferred.schema("c_custkey").dataType == LongType)
    assert(inferred.count() == df.count())
  }

  test("Hadoop path resolution: file: URIs and glob patterns") {
    val dir = graft.TestDirs.temp("graft_glob")
    java.nio.file.Files.writeString(dir.resolve("a-1.jsonl"), "{\"a\": 1}\n")
    java.nio.file.Files.writeString(dir.resolve("a-2.jsonl"), "{\"a\": 2}\n")
    java.nio.file.Files.writeString(dir.resolve("b-1.jsonl"), "{\"a\": 3}\n")
    val viaUri = spark.read.format("graftdocs").load(s"file:$dir")
    assert(viaUri.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    val viaGlob = spark.read.format("graftdocs").load(s"$dir/a-*.jsonl")
    assert(viaGlob.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    intercept[IllegalArgumentException] {
      spark.read.format("graftdocs").load(s"$dir/zzz-*.jsonl").collect()
    }
  }

  test("multi-path load: inference and scan resolve the same file list") {
    val dir = graft.TestDirs.temp("graft_dsv2p")
    val p1 = dir.resolve("a.jsonl"); val p2 = dir.resolve("b.jsonl")
    java.nio.file.Files.writeString(p1, "{\"a\": 1}\n")
    java.nio.file.Files.writeString(p2, "{\"a\": 2}\n")
    // load(p1, p2) routes through the 'paths' option (JSON-array form);
    // both inference and the scan must honor it
    val two = spark.read.format("graftdocs").load(p1.toString, p2.toString)
    assert(two.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // explicit comma-separated 'paths' option works too
    val opt = spark.read.format("graftdocs")
      .option("paths", s"$p1,$p2").load()
    assert(opt.count() == 2)
  }
}
