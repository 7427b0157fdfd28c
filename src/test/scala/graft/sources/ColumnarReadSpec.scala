package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.MSchema

/** Vectorized scan of the graftdocs source: the plan goes columnar, and
  * the ColumnarBatch decode is value-identical to DocDecoder's
  * per-document rows over the full declared-type matrix (nested structs,
  * arrays of structs, decimal128, binary/objectId, timestamps incl. NTZ,
  * date32, code) — the Spark twin of the reference's columnar-builder
  * equivalence (process_bson_stream builders, lib.pyx:436-870).
  */
class ColumnarReadSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val fullSchema = StructType(Seq(
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    MSchema.timestampField("ts"),
    StructField("dt", DateType,
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "date32").build()),
    StructField("dec", DecimalType(38, 10),
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "decimal128").build()),
    MSchema.objectIdField("oid"),
    MSchema.binaryField("bin", 0),
    StructField("arr", ArrayType(LongType)),
    StructField("nested", StructType(Seq(
      StructField("x", DoubleType),
      StructField("inner", StructType(Seq(StructField("y", StringType)))),
      StructField("tags", ArrayType(StringType))))),
    StructField("structs", ArrayType(StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))))))

  private val fixtureLines = Seq(
      """{"i": 1, "l": {"$numberLong": "9007199254740993"}, "d": 1.5, "s": "a b", "b": true,
         "ts": {"$date": 1700000000123}, "dt": {"$date": 1700003600000},
         "dec": {"$numberDecimal": "12345.6789012345"},
         "oid": {"$oid": "5f0e3a2b1c9d440000abcdef"},
         "bin": {"$binary": {"base64": "AQIDBA==", "subType": "00"}},
         "arr": [1, 2, null, 4],
         "nested": {"x": 2.25, "inner": {"y": "deep"}, "tags": ["t1", "t2"]},
         "structs": [{"k": 1, "v": "one"}, {"k": 2, "v": null}]}""",
      // missing-field null catch-up: most fields absent
      """{"i": 2, "arr": [], "nested": {"x": null, "inner": null, "tags": null}}""",
      // cross-acceptance: bool→int, int→double, double-truncate→long
      """{"i": true, "l": 3.9, "d": 7, "s": "plain", "b": false,
         "ts": {"$date": "2023-11-14T22:13:20.123Z"}, "dt": {"$date": -86400001},
         "dec": 42.5, "arr": [9], "structs": []}""",
      // NaN → null on numeric targets
      """{"i": NaN, "l": NaN, "d": NaN}"""
    ).map(_.replaceAll("\n\\s*", " "))

  private def writeFixture(): String = {
    val dir = graft.TestDirs.temp("graft_columnar")
    java.nio.file.Files.write(dir.resolve("docs.jsonl"),
      fixtureLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir.toString
  }

  private def read(path: String) =
    spark.read.format("graftdocs").schema(fullSchema)
      .option("allowInvalid", true).load(path)

  test("the plan reads columnar batches") {
    val plan = read(writeFixture()).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"not columnar:\n$plan")
  }

  test("columnar decode ≡ row decode over the full type matrix") {
    // the row decode: DocDecoder's per-document rows of the same lines;
    // one file, one split: both keep line order
    val colRows = read(writeFixture()).collect().toSeq
    val rowRows = DocReference.frame(spark,
      DocReference.jsonl(fixtureLines, fullSchema, strict = false), fullSchema)
      .collect().toSeq
    assert(colRows.length == 4)
    // Row.equals on binary columns compares array identity — compare a
    // canonical rendering instead (json covers every nested field)
    val canon = (r: Seq[org.apache.spark.sql.Row]) =>
      r.map(_.json)
    assert(canon(colRows) == canon(rowRows))
  }

  test("decode-time filter skip works on the columnar path") {
    val path = writeFixture()
    val q = read(path).where($"i" === 2)
    assert(q.collect().length == 1)
    assert(ScanCountsOf(q).skipped > 0)
  }

  test("direct BSON decode engages under pushed filters, with skips") {
    // round-6 gap: any pushed filter used to force the JsonNode-tree
    // path, surrendering the 2.3× direct decode exactly on the filtered
    // scans real workloads run. Now the direct reader evaluates pushed
    // filters against the decoded vectors and compacts survivors.
    val dir = graft.TestDirs.temp("graft_direct_filter")
    val n = 5000
    spark.range(n).selectExpr("id", "cast(id % 7 as double) as d",
        "concat('row', id) as s",
        "timestamp_millis(1700000000000 + id * 1000) as ts",
        "named_struct('x', cast(id as double), 'tags', array(concat('t', id % 3))) as nested",
        "array(id, id + 1) as arr")
      .repartition(1)
      .write.format("graftdocs").option("format", "bson")
      .mode("overwrite").save(dir.toString)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType),
      StructField("s", StringType), MSchema.timestampField("ts"),
      StructField("nested", StructType(Seq(
        StructField("x", DoubleType),
        StructField("tags", ArrayType(StringType))))),
      StructField("arr", ArrayType(LongType))))
    val pred = $"d" === 3.0 && $"id" >= 100

    // no orderBy here: a range sort samples the source in a second scan
    // pass, which would double every counter — sort driver-side instead
    val q = spark.read.format("graftdocs").schema(schema).load(dir.toString).where(pred)
    val colRows = q.collect().toSeq.sortBy(_.getLong(0))
    val counts = ScanCountsOf(q)
    assert(counts.emitted + counts.skipped == n,
      s"decoded ${counts.emitted + counts.skipped} of $n documents")
    assert(counts.skipped > 0, "no decode-time skips counted")
    assert(counts.emitted == colRows.length.toLong)
    // value parity with DocDecoder's rows under the same filter
    val rowRows = DocReference.frame(spark, DocReference.files(dir.toString, schema), schema)
      .where(pred).collect().toSeq.sortBy(_.getLong(0))
    assert(colRows.nonEmpty && colRows.map(_.json) == rowRows.map(_.json))
    // and with the no-filter direct read filtered post-hoc
    val all = spark.read.format("graftdocs").schema(schema).load(dir.toString)
      .collect().toSeq.filter(r => r.getDouble(1) == 3.0 && r.getLong(0) >= 100)
      .sortBy(_.getLong(0))
    assert(colRows.map(_.json) == all.map(_.json))
  }

  test("strict-mode type errors still raise on the columnar path") {
    val dir = graft.TestDirs.temp("graft_columnar_strict")
    java.nio.file.Files.write(dir.resolve("bad.jsonl"),
      """{"i": "not-an-int"}""".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftdocs")
        .schema(StructType(Seq(StructField("i", IntegerType))))
        .load(dir.toString).collect()
    }
    assert(e.getMessage.contains("unexpected type") ||
      Option(e.getCause).exists(_.getMessage.contains("unexpected type")))
  }

  test("a declared type no decoder supports fails when the reader is built") {
    // FloatType and MapType have no direct writer and no DocDecoder case:
    // the read fails by name, even where no document carries the field
    val dir = graft.TestDirs.temp("graft_unsupported")
    java.nio.file.Files.write(dir.resolve("a.jsonl"), "{\"i\": 1}\n".getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(graft.bson.BsonBinary.encodeRow(org.apache.spark.sql.Row(1L),
      StructType(Seq(StructField("i", LongType)))))
    java.nio.file.Files.write(dir.resolve("b.bson"), out.toByteArray)
    for (file <- Seq("a.jsonl", "b.bson");
         dt <- Seq(FloatType, MapType(StringType, LongType))) {
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs")
          .schema(StructType(Seq(StructField("i", LongType), StructField("f", dt))))
          .load(dir.resolve(file).toString).collect()
      }
      assert(DocReference.rootMessage[graft.bson.GraftTypeError](e) ==
        s"unsupported declared type $dt", s"$file ${dt.simpleString}")
    }
  }

  test("limit pushdown stops decode after n rows per partition") {
    val dir = graft.TestDirs.temp("graft_limit")
    val sb = new StringBuilder
    (1 to 20000).foreach(i => sb.append(s"""{"i": $i}\n"""))
    java.nio.file.Files.write(dir.resolve("big.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType)))
    val q = spark.read.format("graftdocs").schema(schema).load(dir.toString).limit(5)
    assert(q.queryExecution.executedPlan.toString.contains("PushedLimit: 5"))
    assert(q.collect().length == 5)
    // one partition here: the decoder must have stopped at the limit,
    // not decoded all 20000 documents
    val emitted = ScanCountsOf(q).emitted
    assert(emitted > 0 && emitted <= 5L, s"decoded $emitted rows")
  }

  test("count(*) pushdown never decodes a document") {
    val dir = graft.TestDirs.temp("graft_cnt")
    val sb = new StringBuilder
    (1 to 12345).foreach(i => sb.append(s"""{"i": $i, "s": "row$i"}\n"""))
    sb.append("\n") // blank line: excluded from the row set, and from the count
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", StringType)))
    val df = spark.read.format("graftdocs").schema(schema).load(dir.toString)
    val q = df.groupBy().count()
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().head.getLong(0) == 12345)
    assert(ScanCountsOf(q).emitted == 0, "count decoded documents")
    // bson format: length-prefix hops
    val bdir = graft.TestDirs.temp("graft_cnt_b")
    spark.range(777).selectExpr("id").write.format("graftdocs")
      .option("format", "bson").mode("overwrite").save(bdir.toString)
    val bs = StructType(Seq(StructField("id", LongType)))
    val bq = spark.read.format("graftdocs").schema(bs).load(bdir.toString).groupBy().count()
    assert(bq.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(bq.head.getLong(0) == 777)
    // a filtered count must NOT push (filters stay post-scan here)
    val fq = df.where($"i" > 100).groupBy().count()
    assert(!fq.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(fq.head.getLong(0) == 12245)
  }

  test("count(*) pushdown is exact across byte-split boundaries") {
    val dir = graft.TestDirs.temp("graft_cnt_split")
    val sb = new StringBuilder
    (1 to 5000).foreach(i => sb.append(s"""{"i": $i}\n"""))
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType)))
    // tiny splits: every boundary lands mid-line somewhere
    for (split <- Seq(997L, 4096L, 64L * 1024)) {
      val q = spark.read.format("graftdocs").schema(schema)
        .option("maxSplitBytes", split).load(dir.toString).groupBy().count()
      assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(q.head.getLong(0) == 5000, s"split=$split")
    }
  }

  test("a non-positive maxSplitBytes is refused by name, by a pushed count(*) too") {
    val dir = graft.TestDirs.temp("graft_split_neg")
    java.nio.file.Files.write(dir.resolve("a.jsonl"),
      "{\"i\": 1}\n{\"i\": 2}\n".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType)))
    for (split <- Seq(-1L, 0L)) {
      val df = spark.read.format("graftdocs").schema(schema)
        .option("maxSplitBytes", split).load(dir.toString)
      for ((what, action) <- Seq[(String, () => Any)](
             "count" -> (() => df.count()), "read" -> (() => df.collect()))) {
        val e = intercept[Exception](action())
        assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains(
            s"maxSplitBytes must be positive, got $split")), s"$what, $split: $e")
      }
    }
  }

  test("inferMaxDocs bounds the inference sample per file") {
    val dir = graft.TestDirs.temp("graft_infer")
    val sb = new StringBuilder
    // field "late" appears only after the first 100 docs
    (1 to 100).foreach(i => sb.append(s"""{"i": $i}\n"""))
    (1 to 50).foreach(i => sb.append(s"""{"i": $i, "late": "x$i"}\n"""))
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val full = spark.read.format("graftdocs").load(dir.toString).schema
    assert(full.fieldNames.contains("late"))
    val sampled = spark.read.format("graftdocs")
      .option("inferMaxDocs", 100).load(dir.toString).schema
    assert(!sampled.fieldNames.contains("late")) // documented trade
    assert(sampled.fieldNames.contains("i"))
  }

  test("multi-batch reads (capacity rollover) keep every row") {
    val dir = graft.TestDirs.temp("graft_columnar_big")
    val sb = new StringBuilder
    (1 to 10000).foreach(i => sb.append(s"""{"i": $i, "s": "row$i"}\n"""))
    java.nio.file.Files.write(dir.resolve("big.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", StringType)))
    val df = spark.read.format("graftdocs").schema(schema).load(dir.toString)
    assert(df.count() == 10000)
    assert(df.agg(sum("i")).head.getLong(0) == 10000L * 10001 / 2)
  }
}
