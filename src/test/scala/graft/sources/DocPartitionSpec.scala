package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Hive-style partitioned layout in the graftdocs connector: partitioned
  * writes (`partitionBy` option), recursive `k=v` discovery, exact
  * three-valued partition pruning at planning time, and constant-vector
  * partition-column fill on both read paths. The scale claim under test:
  * a partition-filtered query must DROP files from the plan, not filter
  * rows after decode. */
class DocPartitionSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_part").toString

  private lazy val customer =
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

  private def countVisibleFiles(path: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path)).count(f =>
      !f.getName.startsWith(".") &&
        (f.getName.endsWith(".jsonl") || f.getName.endsWith(".bson")))
  }

  test("partitioned write → read round trip preserves all values") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    // one subdir per segment, no files at the root
    val segs = new java.io.File(path).listFiles().filter(_.isDirectory)
    assert(segs.map(_.getName).forall(_.startsWith("c_mktsegment=")))
    assert(segs.length == customer.select("c_mktsegment").distinct.count())
    val back = spark.read.format("graftdocs").schema(customer.schema).load(path)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      customer.orderBy("c_custkey").collect().toSeq)
  }

  test("partition filter prunes files at planning and is fully handled") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val nSegs = customer.select("c_mktsegment").distinct.count().toInt
    val q = spark.read.format("graftdocs").schema(customer.schema).load(path)
      .where($"c_mktsegment" === "BUILDING")
    val plan = q.queryExecution.executedPlan
    val desc = plan.toString
    assert(desc.contains("PartitionFilters:"), s"no partition filters:\n$desc")
    // fully handled: the EqualTo must NOT survive as a post-scan Filter
    assert(!desc.contains("Filter ("), s"partition filter left residual:\n$desc")
    // only the matching directory's files are planned
    val scanned = plan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputRDD.getNumPartitions
    val totalFiles = countVisibleFiles(path)
    assert(scanned < totalFiles, s"no pruning: $scanned of $totalFiles planned")
    assert(desc.contains(s"PartitionPruned:"), desc)
    assert(q.count() == customer.where($"c_mktsegment" === "BUILDING").count())
    assert(nSegs > 1)
  }

  test("typed (non-string) partition column round-trips and prunes on range") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_nationkey")
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(customer.schema).load(path)
    assert(back.schema("c_nationkey").dataType == customer.schema("c_nationkey").dataType)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      customer.orderBy("c_custkey").collect().toSeq)
    val q = back.where($"c_nationkey" >= 20)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters:"))
    assert(q.count() == customer.where($"c_nationkey" >= 20).count())
  }

  test("null and special-character partition values round-trip") {
    val df = Seq(
      (1L, "plain", 1.0), (2L, "a/b=c %d", 2.0), (3L, null, 3.0),
      (4L, "ünïcode", 4.0), (5L, "plain", 5.0))
      .toDF("id", "seg", "v")
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "seg")
      .mode("overwrite").save(path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.contains("seg=__HIVE_DEFAULT_PARTITION__"), dirs.toString)
    assert(dirs.exists(_.contains("%2F")), dirs.toString) // '/' escaped
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // SQL semantics at the pruner: = drops the null dir, IS NULL keeps only it
    assert(back.where($"seg" === "plain").count() == 2)
    assert(back.where($"seg".isNull).count() == 1)
    assert(back.where($"seg".isNotNull).count() == 4)
    // three-valued NOT: null seg is neither = nor != a value
    assert(back.where(not($"seg" === "plain")).count() == 2)
  }

  test("partition-filtered COUNT(*) composes with the count pushdown") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val q = spark.read.format("graftdocs").schema(customer.schema).load(path)
      .where($"c_mktsegment" === "BUILDING")
      .groupBy().count()
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregation: [COUNT(*)]"), desc)
    assert(desc.contains("PartitionPruned:"), desc)
    assert(q.collect().head.getLong(0) ==
      customer.where($"c_mktsegment" === "BUILDING").count())
  }

  test("bson format, mixed doc+partition filters match the source rows") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .option("format", "bson").mode("overwrite").save(path)
    val expect = customer
      .where($"c_mktsegment" === "BUILDING" && $"c_acctbal" > 1000.0)
      .orderBy("c_custkey").collect().toSeq
    val got = spark.read.format("graftdocs").schema(customer.schema).load(path)
      .where($"c_mktsegment" === "BUILDING" && $"c_acctbal" > 1000.0)
      .orderBy("c_custkey").collect().toSeq
    assert(got == expect)
    // filter-free full read exercises the DIRECT BSON→vector path under
    // the partition-fill wrapper (no JsonNode tree, constants appended)
    val full = spark.read.format("graftdocs").schema(customer.schema).load(path)
      .orderBy("c_custkey").collect().toSeq
    assert(full == customer.orderBy("c_custkey").collect().toSeq)
  }

  test("schema inference appends partition columns") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val inferred = spark.read.format("graftdocs").load(path).schema
    assert(inferred.fieldNames.contains("c_mktsegment"))
    assert(inferred("c_mktsegment").dataType == StringType)
  }

  test("writer memory bound: many partitions under a tiny batch budget") {
    val df = spark.range(0, 1000).select(
      $"id", ($"id" % 50).cast("int").as("p"), concat(lit("v"), $"id").as("s"))
    val path = tmp()
    df.coalesce(1).write.format("graftdocs")
      .option("partitionBy", "p").option("maxBatchBytes", 4096)
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.count() == 1000)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(countVisibleFiles(path) >= 50)
  }

  test("multi-level partitioning with pruning on either level") {
    val df = spark.range(0, 200).select(
      $"id", ($"id" % 4).cast("int").as("a"),
      concat(lit("g"), ($"id" % 3)).as("b"), rand(7).as("v"))
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "a,b")
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    val q = back.where($"b" === "g1")
    assert(q.count() == df.where($"b" === "g1").count())
    val q2 = back.where($"a" === 2 && $"b" =!= "g0")
    assert(q2.count() == df.where($"a" === 2 && $"b" =!= "g0").count())
  }

  test("streaming tail over a partitioned directory prunes too") {
    val df = customer.limit(500)
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val qName = "part_stream_docs"
    val q = spark.readStream.format("graftdocs").schema(df.schema).load(path)
      .where($"c_mktsegment" === "BUILDING")
      .groupBy().count()
      .writeStream.format("memory").queryName(qName)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qName).collect().head.getLong(0)
    assert(got == df.where($"c_mktsegment" === "BUILDING").count())
  }

  test("runtime filtering: a broadcast join on the partition column prunes at execution") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val nSegs = customer.select("c_mktsegment").distinct.count().toInt
    val docs = spark.read.format("graftdocs").schema(customer.schema).load(path)
    // the dim's restriction rides a SECOND column, so constraint
    // inference can't turn it into a literal partition predicate — the
    // value set reaches the fact scan only through dynamic pruning
    val dimPath = tmp()
    Seq(("BUILDING", 1), ("MACHINERY", 0)).toDF("c_mktsegment", "keep")
      .write.mode("overwrite").parquet(dimPath)
    // file-backed: ConvertToLocalRelation can't fold the selective
    // predicate away before the partition-pruning rule sees it
    val dim = spark.read.parquet(dimPath).where($"keep" === 1)
    val joined = docs.join(broadcast(dim), "c_mktsegment")
    assert(joined.count() == customer.where($"c_mktsegment" === "BUILDING").count())
    joined.collect() // materialize the adaptive final plan on THIS QueryExecution
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(plan.toString.contains("RuntimeFilters: [dynamicpruning"), plan.toString)
    // query stages wrap their plan outside `children` — recurse into them
    def findScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[GraftScan] => b
      } ++ p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q
      }.flatMap(q => findScans(q.plan))
    val scans = findScans(plan)
    assert(scans.nonEmpty, plan.toString)
    // count planned FILES, not RDD partitions: under v2 bucketing (on by
    // default in Spark 4) the scan reports KeyGroupedPartitioning and
    // pushPartValues pads filtered-out key groups with EMPTY partitions
    // to keep SPJ alignment — the partition count stays constant while
    // the pruned files are genuinely never scanned
    val plannedFiles = scans.head.inputRDD.partitions.flatMap {
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        d.inputPartitions
    }.collect { case f: GraftFilePartition => f.path }.distinct.size
    assert(plannedFiles < nSegs,
      s"runtime pruning did not fire: $plannedFiles files for $nSegs segments\n$plan")
  }

  test("join on a non-partition column with the partition column pruned out analyzes") {
    // regression: filterAttributes used to report every partition column
    // unconditionally; PartitionPruning resolves those refs against the
    // scan's COLUMN-PRUNED output and threw AnalysisException for any
    // join whose projection dropped the partition column
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val docs = spark.read.format("graftdocs").schema(customer.schema).load(path)
      .where($"c_mktsegment" =!= "BUILDING") // partition filter, then pruned away
      .select("c_custkey", "c_acctbal")      // no partition column in output
    val dim = customer.select($"c_custkey").limit(10)
    val n = docs.join(dim, "c_custkey").count()
    assert(n == customer.where($"c_mktsegment" =!= "BUILDING")
      .join(dim, "c_custkey").count())
  }

  test("MIN/MAX of a partition column push down metadata-only (zero decode)") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_nationkey")
      .mode("overwrite").save(path)
    val docs = spark.read.format("graftdocs").schema(customer.schema).load(path)
    val q = docs.agg(min("c_nationkey").as("mn"), max("c_nationkey").as("mx"))
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregation: [MIN(c_nationkey), MAX(c_nationkey)] (metadata-only)"), desc)
    val r = q.collect().head
    val expect = customer.agg(min("c_nationkey"), max("c_nationkey")).collect().head
    assert(r == expect)
    // nothing decoded: the answer came from directory names alone
    assert(ScanCountsOf(q).emitted == 0)

    // count(*) composes: counts hop prefixes, min/max ride the dir values
    val q2 = docs.where($"c_nationkey" >= 10)
      .agg(count(lit(1)).as("n"), max("c_nationkey").as("mx"))
    val desc2 = q2.queryExecution.executedPlan.toString
    assert(desc2.contains("PushedAggregation: [COUNT(*), MAX(c_nationkey)]"), desc2)
    assert(desc2.contains("PartitionPruned:"), desc2)
    val r2 = q2.collect().head
    val e2 = customer.where($"c_nationkey" >= 10)
      .agg(count(lit(1)), max("c_nationkey")).collect().head
    assert(r2 == e2)

    // a min/max over a DOC column pushes too — answered from the .zmap
    // sidecars, still zero decodes (ZoneMapSpec proves the provenance)
    val q3 = docs.agg(min("c_acctbal"))
    assert(q3.queryExecution.executedPlan.toString.contains("MIN(c_acctbal) zmap"),
      q3.queryExecution.executedPlan.toString)
    assert(q3.collect().head == customer.agg(min("c_acctbal")).collect().head)
    assert(ScanCountsOf(q3).emitted == 0)

    // the metadata-only plan bundles files into FEW tasks (not one per file)
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def leafScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      } ++ p.collect {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => qs
      }.flatMap(qs => leafScans(qs.plan))
    assert(leafScans(finalPlan).head.inputRDD.getNumPartitions == 1,
      "files must group into one metadata task")
  }

  test("an empty batch file's directory value never leaks into MIN/MAX") {
    val df = Seq((1L, 5), (2L, 7)).toDF("id", "p")
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "p")
      .mode("overwrite").save(path)
    // an external writer leaves an empty visible batch file in a new
    // partition dir whose value would win both min and max
    val rogue = new java.io.File(path, "p=999")
    rogue.mkdirs()
    java.nio.file.Files.write(rogue.toPath.resolve("part-x.jsonl"), Array.empty[Byte])
    val rogue2 = new java.io.File(path, "p=-999")
    rogue2.mkdirs()
    java.nio.file.Files.write(rogue2.toPath.resolve("part-y.jsonl"), "\n\n".getBytes)
    val back = spark.read.format("graftdocs")
      .schema(org.apache.spark.sql.types.StructType(df.schema.fields))
      .load(path)
    val r = back.agg(min("p"), max("p")).collect().head
    assert(r.getInt(0) == 5 && r.getInt(1) == 7, r.toString)
    // and with COUNT(*) riding along (the split path's zero-row guard)
    val r2 = back.agg(count(lit(1)), min("p"), max("p")).collect().head
    assert(r2.getLong(0) == 2 && r2.getInt(1) == 5 && r2.getInt(2) == 7, r2.toString)
    // plain scans agree: the empty files contribute no rows
    assert(back.count() == 2)
  }

  test("GROUP BY a partition column pushes the whole aggregate to metadata") {
    val path = tmp()
    // several files per group: group folding must merge across files
    customer.repartition(4)
      .write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val docs = spark.read.format("graftdocs").schema(customer.schema).load(path)

    // count(*) grouped: counts hop bytes, groups come from directories
    val q = docs.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedAggregation: [COUNT(*)]") &&
      desc.contains("PushedGroupBy: [c_mktsegment]"), desc)
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = customer.groupBy("c_mktsegment").agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)

    // metadata-only: MIN/MAX of a doc column per group from sidecars,
    // zero documents decoded
    val q2 = docs.groupBy("c_mktsegment")
      .agg(min("c_acctbal").as("lo"), max("c_acctbal").as("hi"))
    val desc2 = q2.queryExecution.executedPlan.toString
    assert(desc2.contains("MIN(c_acctbal) zmap") &&
      desc2.contains("PushedGroupBy: [c_mktsegment]") &&
      desc2.contains("(metadata-only)"), desc2)
    val got2 = q2.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val expect2 = customer.groupBy("c_mktsegment")
      .agg(min("c_acctbal"), max("c_acctbal"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got2 == expect2)
    assert(ScanCountsOf(q2).emitted == 0, "grouped stats must not decode")

    // partition filters compose with grouped pushdown
    val q3 = docs.where($"c_mktsegment" =!= "BUILDING")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(q3.queryExecution.executedPlan.toString.contains("PushedGroupBy:"),
      q3.queryExecution.executedPlan.toString)
    assert(q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      customer.where($"c_mktsegment" =!= "BUILDING")
        .groupBy("c_mktsegment").agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

    // grouping by a NON-partition column refuses: the real scan answers
    val q4 = docs.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
    assert(!q4.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      q4.queryExecution.executedPlan.toString)
    assert(q4.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      customer.groupBy("c_nationkey").agg(count(lit(1)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  test("grouped pushdown: an empty batch file never conjures a group") {
    val df = Seq((1L, 5), (2L, 7)).toDF("id", "p")
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "p")
      .mode("overwrite").save(path)
    val rogue = new java.io.File(path, "p=999")
    rogue.mkdirs()
    java.nio.file.Files.write(rogue.toPath.resolve("part-x.jsonl"), Array.empty[Byte])
    val rogue2 = new java.io.File(path, "p=-999")
    rogue2.mkdirs()
    java.nio.file.Files.write(rogue2.toPath.resolve("part-y.jsonl"), "\n\n".getBytes)
    val back = spark.read.format("graftdocs")
      .schema(org.apache.spark.sql.types.StructType(df.schema.fields))
      .load(path)
    // count path: the zero-row splits of p=999/p=-999 emit no partial
    val r = back.groupBy("p").agg(count(lit(1)).as("n"))
    assert(r.queryExecution.executedPlan.toString.contains("PushedGroupBy: [p]"),
      r.queryExecution.executedPlan.toString)
    assert(r.collect().map(x => x.getInt(0) -> x.getLong(1)).toMap ==
      Map(5 -> 1L, 7 -> 1L))
    // metadata path (no byte counting): the liveness probe drops the
    // dead files' groups. min(p) keeps the whole answer directory-borne
    // (min(id) would refuse — the rogue files carry no sidecar).
    val r2 = back.groupBy("p").agg(min("p").as("lo"))
    assert(r2.queryExecution.executedPlan.toString.contains("(metadata-only)"),
      r2.queryExecution.executedPlan.toString)
    assert(r2.collect().map(x => x.getInt(0) -> x.getInt(1)).toMap ==
      Map(5 -> 5, 7 -> 7))
  }

  test("grouped pushdown: the hive null sentinel groups as NULL, not a string") {
    val df = Seq((1L, "a"), (2L, null), (3L, null), (4L, "b"))
      .toDF("id", "seg")
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "seg")
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs")
      .schema(org.apache.spark.sql.types.StructType(df.schema.fields))
      .load(path)
    val q = back.groupBy("seg").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedGroupBy: [seg]"),
      q.queryExecution.executedPlan.toString)
    val got = q.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(Some("a") -> 1L, Some("b") -> 1L, None -> 2L), got.toString)
  }

  test("grouped pushdown equivalence: 25 random layout × aggregate draws") {
    // adversarial sweep for the metadata-answered GROUP BY: random
    // corpora (null partition values, null/duplicate doc values, int
    // and string grouping keys, multi-file groups) must aggregate
    // identically through the pushdown and through the plain DataFrame
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 25) {
      val n = 10 + rnd.nextInt(60)
      val stringKey = rnd.nextBoolean()
      val rows = (0 until n).map { i =>
        val g: Any =
          if (rnd.nextInt(8) == 0) null
          else if (stringKey) "g" + rnd.nextInt(4)
          else rnd.nextInt(4)
        val v: java.lang.Long =
          if (rnd.nextInt(8) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(100) - 50)
        (i.toLong, g, v)
      }
      val df =
        if (stringKey) rows.map(r => (r._1, r._2.asInstanceOf[String], r._3))
          .toDF("id", "p", "v")
        else rows.map(r => (r._1,
            Option(r._2).map(_.asInstanceOf[Int].toString).orNull, r._3))
          .toDF("id", "p", "v")
          .withColumn("p", col("p").cast("int"))
      val path = tmp()
      df.repartition(1 + rnd.nextInt(4))
        .write.format("graftdocs").option("partitionBy", "p")
        .mode("overwrite").save(path)
      val schema = org.apache.spark.sql.types.StructType(
        df.schema.map(_.copy(nullable = true)))
      val back = spark.read.format("graftdocs").schema(schema).load(path)
      val aggSet = rnd.nextInt(4) match {
        case 0 => Seq(count(lit(1)).as("a"))
        case 1 => Seq(min("v").as("a"), max("v").as("b"))
        case 2 => Seq(count(lit(1)).as("a"), max("id").as("b"))
        case _ => Seq(min("p").as("a"), count("v").as("b"))
      }
      def rowsOf(d: org.apache.spark.sql.DataFrame): Set[String] =
        d.groupBy("p").agg(aggSet.head, aggSet.tail: _*)
          .collect().map(_.toString).toSet
      val got = rowsOf(back)
      val expect = rowsOf(df)
      assert(got == expect,
        s"round $round (stringKey=$stringKey, aggs=${aggSet.size}): " +
          s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    }
  }

  test("date partition filters prune correctly under java8 datetime API") {
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-01-02")),
      (3L, java.sql.Date.valueOf("2024-01-02"))).toDF("id", "d")
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "d")
      .mode("overwrite").save(path)
    val old = spark.conf.getOption("spark.sql.datetime.java8API.enabled")
    try {
      for (java8 <- Seq("true", "false")) {
        spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
        val back = spark.read.format("graftdocs").schema(df.schema).load(path)
        // equality and range filters must keep their files (the java8
        // literal is a LocalDate; an unknown comparison would DROP them
        // silently because the pruner treats unknown as no-row-matches)
        assert(back.where($"d" === "2024-01-02").count() == 2, s"java8=$java8 eq")
        assert(back.where($"d" >= "2024-01-02").count() == 2, s"java8=$java8 range")
        assert(back.where($"d" < "2024-01-02").count() == 1, s"java8=$java8 lt")
      }
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.datetime.java8API.enabled", v)
      case None => spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
  }

  test("external hive layouts: literal non-ASCII and stray % survive unescape") {
    // Hive's own escaper leaves non-ASCII unescaped and may emit a bare
    // '%' — a layout this connector didn't write must still read
    assert(GraftDocSource.unescapePathValue("München") == "München")
    assert(GraftDocSource.unescapePathValue("中文") == "中文")
    assert(GraftDocSource.unescapePathValue("100%x") == "100%x")
    assert(GraftDocSource.unescapePathValue("a%2Fb%") == "a/b%")
    // on disk: a stray-'%' external dir name must read, not throw (the
    // container's fs encoding can't create non-ASCII names, so unicode
    // stays covered by the function-level assertions above)
    val path = tmp()
    val dir = new java.io.File(path, "pct=100%x")
    dir.mkdirs()
    java.nio.file.Files.write(dir.toPath.resolve("w.jsonl"),
      "{\"id\": 1}\n".getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("pct", StringType)))
    val got = spark.read.format("graftdocs").schema(schema).load(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "100%x")), got.toString)
  }

  test("partitionDiscovery=false restores the flat listing on mixed layouts") {
    val path = tmp()
    java.nio.file.Files.write(new java.io.File(path, "root.jsonl").toPath,
      "{\"id\": 1}\n".getBytes("UTF-8"))
    val sub = new java.io.File(path, "ver=2"); sub.mkdirs()
    java.nio.file.Files.write(sub.toPath.resolve("old.jsonl"),
      "{\"id\": 2}\n".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType)))
    // mixed depth under discovery: refused loudly (Spark's own
    // conflicting-layout behavior) — not silently half-read
    val e = intercept[Exception] {
      spark.read.format("graftdocs").schema(schema).load(path).collect()
    }
    assert(e.getMessage.contains("inconsistent partition layout"), e.getMessage)
    // the escape hatch reads the flat level only, as before
    val flat = spark.read.format("graftdocs").schema(schema)
      .option("partitionDiscovery", "false").load(path)
      .select("id").as[Long].collect().toSeq
    assert(flat == Seq(1L))
  }

  test("invalid partitionBy configurations are refused") {
    val path = tmp()
    val e1 = intercept[IllegalArgumentException] {
      customer.write.format("graftdocs").option("partitionBy", "nope")
        .mode("overwrite").save(path)
    }
    assert(e1.getMessage.contains("not in schema"))
    val df = Seq((1L, Array(1.0, 2.0))).toDF("id", "emb")
    val e2 = intercept[IllegalArgumentException] {
      df.write.format("graftdocs").option("partitionBy", "emb")
        .mode("overwrite").save(path)
    }
    assert(e2.getMessage.contains("non-partitionable"))
    val e3 = intercept[IllegalArgumentException] {
      customer.write.format("graftdocs")
        .option("partitionBy", "c_mktsegment,c_mktsegment")
        .mode("overwrite").save(path)
    }
    assert(e3.getMessage.contains("duplicate"))
    val weird = Seq((1L, "x")).toDF("id", "a=b")
    val e4 = intercept[IllegalArgumentException] {
      weird.write.format("graftdocs").option("partitionBy", "a=b")
        .mode("overwrite").save(path)
    }
    assert(e4.getMessage.contains("cannot"))
  }

  test("path-value escaping round-trips arbitrary strings (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.frequency(
      3 -> Gen.listOf(Gen.asciiPrintableChar).map(_.mkString),
      2 -> Gen.listOf(Gen.oneOf('/', '=', '%', '.', ' ', 'a', 'ü', '中', '\n')).map(_.mkString),
      1 -> Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue))
        .map(_.mkString.filter(c => !Character.isSurrogate(c))))
    val params = Gen.Parameters.default
    (0 until 300).foreach { i =>
      val s = gen.apply(params, Seed(i.toLong)).getOrElse("")
      val esc = GraftDocSource.escapePathValue(s)
      // a path segment must never contain a separator or an unescaped '='
      assert(!esc.contains('/') && !esc.contains('=') && !esc.contains(' '))
      assert(GraftDocSource.unescapePathValue(esc) == s,
        s"round trip failed for ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("partition value render/cast round-trips every supported type") {
    import org.apache.spark.sql.types._
    val cases: Seq[(Any, DataType)] = Seq(
      ("x y/z=1%", StringType), (42, IntegerType), (-7L, LongType),
      (3.toShort, ShortType), (9.toByte, ByteType),
      (2.5d, DoubleType), (1.5f, FloatType), (true, BooleanType),
      (java.sql.Date.valueOf("1997-06-15"), DateType),
      (new java.math.BigDecimal("12345.6700"), DecimalType(18, 4)),
      (null, StringType), (null, IntegerType))
    cases.foreach { case (v, dt) =>
      val rendered = DocPartitions.render(v)
      val back = DocPartitions.cast(
        GraftDocSource.unescapePathValue(GraftDocSource.escapePathValue(rendered)), dt)
      val expect = v match {
        case d: java.math.BigDecimal => d.setScale(4)
        case other => other
      }
      assert(back == expect, s"$v: $dt -> $rendered -> $back")
    }
  }

  test("pruning equivalence fuzz: random partition predicates match the plain DataFrame") {
    // the "fully handled" claim means Catalyst never re-checks these
    // filters — a wrong drop would be silent, so sweep a predicate
    // grammar over a layout with nulls and mixed-type partition keys
    val df = spark.range(0, 120).select(
      $"id",
      when($"id" % 11 === 0, lit(null)).otherwise(($"id" % 5).cast("int")).as("p"),
      when($"id" % 13 === 0, lit(null))
        .otherwise(concat(lit("s"), ($"id" % 3))).as("q"),
      rand(11).as("v"))
    val path = tmp()
    df.write.format("graftdocs").option("partitionBy", "p,q")
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(df.schema).load(path)
    val rnd = new scala.util.Random(7)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(8) match {
      case 0 => $"p" === rnd.nextInt(6)
      case 1 => $"p" >= rnd.nextInt(6)
      case 2 => $"p" < rnd.nextInt(6)
      case 3 => $"q" === s"s${rnd.nextInt(4)}"
      case 4 => $"p".isNull
      case 5 => $"q".isNotNull
      case 6 => $"p".isin(rnd.nextInt(5), rnd.nextInt(5))
      case 7 => $"q" > s"s${rnd.nextInt(3)}"
    }
    def pred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => pred(depth - 1) && pred(depth - 1)
        case 1 => pred(depth - 1) || pred(depth - 1)
        case 2 => !pred(depth - 1)
        case _ => leaf()
      }
    (0 until 60).foreach { i =>
      val f = pred(2)
      val got = back.where(f).select("id").as[Long].collect().sorted.toSeq
      val expect = df.where(f).select("id").as[Long].collect().sorted.toSeq
      assert(got == expect, s"iteration $i diverged on filter $f")
    }
  }

  test("overwrite of a partitioned layout truncates recursively") {
    val path = tmp()
    customer.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val small = customer.limit(10)
    small.write.format("graftdocs").option("partitionBy", "c_mktsegment")
      .mode("overwrite").save(path)
    val back = spark.read.format("graftdocs").schema(customer.schema).load(path)
    assert(back.count() == 10)
  }
}
