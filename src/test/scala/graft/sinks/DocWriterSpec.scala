package graft.sinks

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bson.DocDecoder

class DocWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpDir(): String =
    graft.TestDirs.temp("graft_sink").toString

  test("write → decode round-trip preserves values (test_arrow.py round_trip)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(500)
    val path = tmpDir()
    val res = DocWriter.write(df, path)
    assert(res.insertedCount == 500)
    val docs = spark.read.textFile(s"$path/*.jsonl")
    val back = DocDecoder.decode(docs, df.schema)
    val a = df.orderBy("o_orderkey").collect().toSeq
    val b = back.orderBy("o_orderkey").collect().toSeq
    assert(a == b)
  }

  test("batch flush at 100k docs: 100_040 rows → 2 batches (test_arrow.py:364-374)") {
    val df = spark.range(100040).toDF("v").coalesce(1)
    val res = DocWriter.write(df, tmpDir())
    assert(res.insertedCount == 100040)
    assert(res.batches == 2)
  }

  test("exclude_none omits null TOP-LEVEL fields; nested nulls stay (api.py:553-558)") {
    val df = Seq(
      (1L, Some("a"), Some(Seq(Some(1.0), None: Option[Double]))),
      (2L, None: Option[String], None: Option[Seq[Option[Double]]])
    ).toDF("id", "s", "arr")
    val path = tmpDir()
    val res = DocWriter.write(df, path, excludeNone = true)
    assert(res.insertedCount == 2)
    val lines = spark.read.textFile(s"$path/*.jsonl").collect().sorted
    // row 2: s and arr simply absent, not "null"
    assert(lines(1).contains("\"id\"") && !lines(1).contains("\"s\"") &&
      !lines(1).contains("\"arr\""))
    // row 1: the nested null INSIDE arr is kept (reference filters the
    // row dict only)
    assert(lines(0).contains("null"))
    // decode restores the omitted fields as nulls under the schema
    val back = DocDecoder.decode(spark.read.textFile(s"$path/*.jsonl"), df.schema)
      .orderBy("id").collect()
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
    // default keeps explicit nulls
    val path2 = tmpDir()
    DocWriter.write(df, path2)
    val plain = spark.read.textFile(s"$path2/*.jsonl").collect().sorted
    assert(plain(1).contains("\"s\": null"))
  }

  test("byte-limit flush splits large rows") {
    val big = spark.range(100).select(col("id"),
      lit("x" * 1000).as("pad")).coalesce(1)
    val res = DocWriter.write(big, tmpDir(), maxBatchBytes = 10000)
    assert(res.insertedCount == 100)
    assert(res.batches > 5)
  }

  test("schema validation rejects MapType (types.py:345-358)") {
    val df = spark.range(1).select(map(lit("k"), lit(1)).as("m"))
    intercept[IllegalArgumentException](DocWriter.write(df, tmpDir()))
  }

  test("auto-convert pre-pass: date→timestamp, float→double (api.py:622-648)") {
    val df = spark.range(3).select(
      current_date().as("d"), lit(1.5f).as("f"), col("id").cast(ShortType).as("s"))
    val out = DocWriter.autoConvert(df)
    assert(out.schema("d").dataType == TimestampType)
    assert(out.schema("f").dataType == DoubleType)
    assert(out.schema("s").dataType == IntegerType)
  }

  test("auto-convert recurses into structs and arrays") {
    val df = spark.range(2).select(
      struct(current_date().as("d"), lit(1.5f).as("f")).as("s"),
      array(current_date()).as("ad"))
    val out = DocWriter.autoConvert(df)
    val st = out.schema("s").dataType.asInstanceOf[StructType]
    assert(st("d").dataType == TimestampType)
    assert(st("f").dataType == DoubleType)
    assert(out.schema("ad").dataType ==
      ArrayType(TimestampType, containsNull = false))
  }

  test("date encodes as UTC midnight regardless of JVM zone") {
    // 2024-03-10 → epoch-day 19792 → 19792*86400000 ms; round-trips through
    // the decoder's UTC epoch-day floor without day shift
    val df = spark.sql("SELECT DATE'2024-03-10' AS d")
    val path = tmpDir()
    DocWriter.write(df, path, autoConvertTypes = false)
    val line = scala.io.Source.fromFile(
      new java.io.File(path).listFiles((_, n) => n.endsWith(".jsonl")).head)
      .getLines().next()
    assert(line.contains(s""""$$date": ${19792L * 86400000L}"""))
  }

  test("a Binary subtype tag survives DocStore.write: the column reads " +
       "back under its own declared schema") {
    val schema = StructType(Seq(StructField("id", LongType),
      graft.schema.MSchema.binaryField("u", 4),
      StructField("s", StructType(Seq(graft.schema.MSchema.binaryField("v", 0x80))))))
    val rows = (0 until 20).map(i => org.apache.spark.sql.Row(i.toLong,
      Array.fill[Byte](16)(i.toByte), org.apache.spark.sql.Row(Array[Byte](1, i.toByte))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val store = new DocStore(spark, tmpDir(), "graftdocs")
    store.write(df, "tagged")
    val back = spark.read.format("graftdocs").schema(schema)
      .load(store.path("tagged")).orderBy("id").collect()
    assert(back.length == 20)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Array[Byte]]("u").toSeq == Seq.fill(16)(i.toByte))
      assert(r.getStruct(2).getAs[Array[Byte]]("v").toSeq == Seq[Byte](1, i.toByte))
    }
  }
}
