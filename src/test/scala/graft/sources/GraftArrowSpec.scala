package graft.sources

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** `graftarrow` source/sink: standard Arrow IPC files as a DSv2 batch
  * format. Contracts under test: lossless round-trip across the whole
  * supported type surface (nulls, empty arrays, empty strings,
  * multi-batch files), REAL Arrow-file conformance (ARROW1 magic, read
  * back through arrow-java's reader — not a private re-parse), columnar
  * zero-copy reads with column pruning, the staged-rename commit
  * (no visible partial files; truncate replaces only on success), and
  * loud refusals for unsupported types. */
class GraftArrowSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_arrow").toString

  private def files(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".arrow"))

  test("round-trip: full type surface incl. nulls, empties, arrays") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f32", FloatType),
      StructField("f64", DoubleType),
      StructField("dec", DecimalType(12, 3)),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("af", ArrayType(FloatType)),
      StructField("as", ArrayType(StringType))))
    val rows = Seq(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5,
        BigDecimal("123.456"), "héllo", Array[Byte](1, 2, 3),
        Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 12:34:56.789"),
        Seq(1.0f, -2.5f), Seq("a", "", "c")),
      Row(null, null, null, null, null, null, null, null, null, null,
        null, null, null, null),
      Row(false, 0.toByte, 0.toShort, 0, 0L, 0f, 0.0, BigDecimal("0.000"),
        "", Array.empty[Byte], Date.valueOf("1970-01-01"),
        Timestamp.valueOf("1970-01-01 00:00:00"),
        Seq.empty[Float], Seq("x", null, "z")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 1), schema)
    val dir = tmp()
    df.write.format("graftarrow").mode("overwrite").save(dir)
    val back = spark.read.format("graftarrow").load(dir)
    assert(back.schema == schema)
    // canonical-JSON comparison: value-exact, container-wrapper-agnostic
    assert(back.toJSON.collect().sorted.toSeq ==
      df.toJSON.collect().sorted.toSeq)
  }

  test("files are real Arrow IPC: ARROW1 magic, multiple record batches") {
    val dir = tmp()
    spark.range(10000).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1)
      .write.format("graftarrow").option("batchRows", "1000")
      .mode("overwrite").save(dir)
    val fl = files(dir)
    assert(fl.size == 1)
    val bytes = java.nio.file.Files.readAllBytes(fl.head.toPath)
    assert(new String(bytes.take(6), "US-ASCII") == "ARROW1", "file magic")
    assert(new String(bytes.takeRight(6), "US-ASCII") == "ARROW1", "footer magic")
    // 10 batches of 1000 rows, readable by arrow-java directly
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ch = java.nio.channels.FileChannel.open(fl.head.toPath)
    val r = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
    try {
      assert(r.getRecordBlocks.size() == 10)
      var n = 0L
      while (r.loadNextBatch()) n += r.getVectorSchemaRoot.getRowCount
      assert(n == 10000L)
    } finally { r.close(); ch.close(); alloc.close() }
  }

  test("IPC STREAM format (.arrows): schema-first message sequence, " +
       "readable by arrow-java's stream reader; round-trip + pruning") {
    val dir = tmp()
    spark.range(5000)
      .select(col("id"), (col("id") % 5).as("k"),
        struct((col("id") * 2).as("a"),
          array(col("id"), col("id") + 1).as("xs")).as("nested"))
      .coalesce(2)
      .write.format("graftarrow")
      .option("ipcFormat", "stream").option("batchRows", "512")
      .mode("overwrite").save(dir)
    val fl = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".arrows"))
    assert(fl.size == 2, "expected .arrows stream files")
    // a stream file has NO ARROW1 magic — it opens with an
    // encapsulated schema message (continuation marker 0xFFFFFFFF)
    val bytes = java.nio.file.Files.readAllBytes(fl.head.toPath)
    assert(new String(bytes.take(6), "US-ASCII") != "ARROW1")
    assert((bytes(0) & 0xFF) == 0xFF && (bytes(3) & 0xFF) == 0xFF)
    // arrow-java's generic stream reader consumes it directly
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val fis = new java.io.FileInputStream(fl.head)
    val r = new org.apache.arrow.vector.ipc.ArrowStreamReader(fis, alloc)
    try {
      var n = 0L
      while (r.loadNextBatch()) n += r.getVectorSchemaRoot.getRowCount
      assert(n > 0 && n < 5000) // one of the two partitions
    } finally { r.close(); fis.close(); alloc.close() }
    // and the DSv2 read path round-trips, nested columns included
    val back = spark.read.format("graftarrow").load(dir)
    assert(back.count() == 5000)
    assert(back.select(sum(col("nested.a"))).head.getLong(0) ==
      (0L until 5000L).map(_ * 2).sum)
    // pruned aggregate still correct
    assert(spark.read.format("graftarrow").load(dir)
      .groupBy("k").count().collect().map(_.getLong(1)).sum == 5000L)
    // mixed directories read too: add a FILE-format part
    spark.range(5000, 6000).select(col("id"), (col("id") % 5).as("k"),
        struct((col("id") * 2).as("a"),
          array(col("id"), col("id") + 1).as("xs")).as("nested"))
      .coalesce(1)
      .write.format("graftarrow").mode("append").save(dir)
    assert(spark.read.format("graftarrow").load(dir).count() == 6000)
    // bad ipcFormat refuses
    assert(intercept[Exception] {
      spark.range(3).write.format("graftarrow")
        .option("ipcFormat", "socket").mode("overwrite").save(tmp())
    }.getMessage.contains("ipcFormat"))
  }

  test("columnar zero-copy read with column pruning") {
    val dir = tmp()
    spark.range(5000).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("pad"), col("id")).as("s"))
      .write.format("graftarrow").mode("overwrite").save(dir)
    val q = spark.read.format("graftarrow").load(dir)
      .groupBy("k").count().orderBy("k")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graftarrow"), plan)
    assert(q.collect().map(_.getLong(1)).sum == 5000L)
    // projection reaches the scan: only 'k' is read
    val scanSchema = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanSchema.contains("pad"), "string column not pruned")
    // multi-partition write → one partition per file on read
    assert(files(dir).size ==
      spark.read.format("graftarrow").load(dir).rdd.getNumPartitions)
  }

  test("reads execute on the columnar path (ColumnarToRow above the scan)") {
    val dir = tmp()
    spark.range(100).select(col("id"), (col("id") * 1.5).as("x"))
      .write.format("graftarrow").mode("overwrite").save(dir)
    val q = spark.read.format("graftarrow").load(dir).where(col("id") > 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"arrow scan did not run columnar:\n$plan")
    assert(q.count() == 89)
  }

  test("randomized round-trip property: 25 draws over the type surface") {
    val rnd = new scala.util.Random(20260815)
    val pool: Seq[DataType] = Seq(BooleanType, ByteType, ShortType,
      IntegerType, LongType, FloatType, DoubleType, DecimalType(10, 2),
      StringType, BinaryType, DateType, TimestampType,
      ArrayType(LongType), ArrayType(FloatType), ArrayType(StringType),
      ArrayType(DecimalType(10, 2)),
      StructType(Seq(StructField("u", LongType),
        StructField("v", StringType))),
      StructType(Seq(StructField("w", DoubleType),
        StructField("xs", ArrayType(IntegerType)))),
      ArrayType(StructType(Seq(StructField("p", FloatType),
        StructField("q", BooleanType)))),
      ArrayType(ArrayType(LongType)),
      MapType(StringType, LongType),
      MapType(StringType, ArrayType(DoubleType)))
    def value(dt: DataType): Any =
      if (rnd.nextInt(5) == 0) null
      else dt match {
        case BooleanType => rnd.nextBoolean()
        case ByteType => rnd.nextInt().toByte
        case ShortType => rnd.nextInt().toShort
        case IntegerType => rnd.nextInt()
        case LongType => rnd.nextLong()
        case FloatType => rnd.nextFloat()
        case DoubleType => rnd.nextDouble()
        case _: DecimalType => BigDecimal(rnd.nextInt(100000000), 2)
        case StringType => rnd.alphanumeric.take(rnd.nextInt(12)).mkString
        case BinaryType => Array.fill[Byte](rnd.nextInt(8))(rnd.nextInt().toByte)
        case DateType => new Date(rnd.nextInt(20000).toLong * 86400000L)
        case TimestampType => new Timestamp(math.abs(rnd.nextLong()) % 4102444800000L)
        case ArrayType(el, _) =>
          // elements recurse (and inherit the null chance) — covers
          // array<decimal>, array<struct>, array<array>
          Seq.fill(rnd.nextInt(5))(value(el))
        case st: StructType =>
          Row(st.fields.map(f => value(f.dataType)): _*)
        case MapType(_, vt, _) =>
          Seq.fill(rnd.nextInt(4))(
            rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString -> value(vt))
            .toMap
        case other => fail(s"unexpected $other")
      }
    for (draw <- 1 to 25) {
      val fields = rnd.shuffle(pool).take(1 + rnd.nextInt(6)).zipWithIndex
        .map { case (dt, i) => StructField(s"c$i", dt) }
      val schema = StructType(fields)
      val n = 1 + rnd.nextInt(200)
      val rows = Seq.fill(n)(Row(fields.map(f => value(f.dataType)): _*))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1 + rnd.nextInt(3)), schema)
      val dir = tmp()
      df.write.format("graftarrow")
        .option("batchRows", (1 + rnd.nextInt(64)).toString)
        .mode("overwrite").save(dir)
      val back = spark.read.format("graftarrow").load(dir)
      assert(back.schema == schema, s"draw $draw schema")
      assert(back.toJSON.collect().sorted.toSeq ==
        df.toJSON.collect().sorted.toSeq, s"draw $draw values ($n rows)")
    }
  }

  test("foreign field order reads correctly (schema by name, not position)") {
    val dir = tmp()
    spark.range(100).select(col("id"), concat(lit("n"), col("id")).as("name"))
      .write.format("graftarrow").mode("overwrite").save(dir)
    val projected = spark.read.format("graftarrow").load(dir)
      .select("name", "id") // reversed order
      .where(col("id") === 42L).collect()
    assert(projected.toSeq.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("n42", 42L)))
  }

  test("truncate replaces old data only after the new commits; append adds") {
    val dir = tmp()
    spark.range(10).write.format("graftarrow").mode("overwrite").save(dir)
    spark.range(10, 15).write.format("graftarrow").mode("append").save(dir)
    assert(spark.read.format("graftarrow").load(dir).count() == 15)
    spark.range(3).write.format("graftarrow").mode("overwrite").save(dir)
    assert(spark.read.format("graftarrow").load(dir).count() == 3)
    // no staged leftovers (.part-*.arrow)
    val leftovers = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".part-") &&
        f.getName.endsWith(".arrow"))
    assert(leftovers.isEmpty, s"staged leftovers: ${leftovers.mkString(", ")}")
  }

  test("a write to file: leaves no .crc checksum file (the raw local fs)") {
    val dir = tmp()
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .write.format("graftarrow").mode("overwrite").save(dir)
    spark.range(100, 105).selectExpr("id", "id * 2 AS v")
      .write.format("graftarrow").mode("append").save("file://" + dir)
    val names = new java.io.File(dir).listFiles().toSeq.map(_.getName)
    assert(names.exists(_.endsWith(".arrow")) &&
      names.exists(_.endsWith(".zmap")), names)
    assert(!names.exists(_.endsWith(".crc")), names)
    assert(spark.read.format("graftarrow").load(dir).count() == 105)
  }

  test("zone-map sidecars: pushed filters skip files; stale/missing " +
       "sidecars keep them; results never change") {
    val dir = tmp()
    // 8 range-disjoint files over id — a point predicate admits one
    spark.range(8000).select(col("id"), (col("id") % 13).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.format("graftarrow").mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".arrow.zmap")) == 8)
    def q() = spark.read.format("graftarrow").load(dir)
      .where(col("id") >= 7100L && col("id") < 7200L)
    val expect = (7100L until 7200L).toSet
    assert(q().collect().map(_.getLong(0)).toSet == expect)
    val desc = q().queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(desc.contains("ZoneMapPruned: 7/8"), desc)
    // partition count matches the surviving file count
    assert(q().rdd.getNumPartitions == 1)
    // a deleted sidecar abstains (file kept, results identical)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".zmap")).foreach(f => assert(f.delete()))
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".zmap.crc")).foreach(_.delete())
    assert(q().collect().map(_.getLong(0)).toSet == expect)
    assert(q().rdd.getNumPartitions == 8)
    // zoneMaps=false writes no sidecars
    val dir2 = tmp()
    spark.range(10).write.format("graftarrow").option("zoneMaps", "false")
      .mode("overwrite").save(dir2)
    assert(!new java.io.File(dir2).listFiles()
      .exists(_.getName.endsWith(".zmap")))
  }

  test("map columns round-trip (Arrow Map = list<struct<key, value>>), " +
       "top-level and nested; intervals still refuse loudly") {
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("m", MapType(StringType, LongType)),
      StructField("deep", StructType(Seq(
        StructField("inner", MapType(StringType, ArrayType(DoubleType))))))))
    val rows = Seq(
      Row(1L, Map("a" -> 1L, "b" -> 2L),
        Row(Map("xs" -> Seq(1.5, null), "ys" -> Seq.empty[Double]))),
      Row(2L, null, null),
      Row(3L, Map.empty[String, Long], Row(null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 2), schema)
    df.write.format("graftarrow").option("batchRows", "2")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graftarrow").load(dir)
    assert(back.schema == schema)
    assert(back.toJSON.collect().sorted.toSeq ==
      df.toJSON.collect().sorted.toSeq)
    // the file is REAL Arrow: pyarrow-compatible Map layout readable
    // by arrow-java generic reader (covered by the roundtrip above,
    // which reads through ArrowFileReader)
    // intervals remain out of the surface and refuse loudly
    val iv = spark.range(3)
      .select(lit(java.time.Duration.ofDays(1)).as("d"))
    assert(intercept[Exception] {
      iv.write.format("graftarrow").mode("overwrite").save(tmp())
    }.getMessage.contains("graftarrow: unsupported type"))
  }

  test("nested matrix: struct / struct-of-list / list-of-struct / " +
    "array-of-decimal / array-of-array, with null subdocuments") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("doc", StructType(Seq(
        StructField("name", StringType),
        StructField("score", DoubleType),
        StructField("tags", ArrayType(StringType)),
        StructField("inner", StructType(Seq(
          StructField("a", IntegerType),
          StructField("b", DecimalType(12, 3)))))))),
      StructField("points", ArrayType(StructType(Seq(
        StructField("x", DoubleType), StructField("y", DoubleType))))),
      StructField("amounts", ArrayType(DecimalType(10, 2))),
      StructField("grid", ArrayType(ArrayType(IntegerType)))))
    val rows = Seq(
      Row(1L,
        Row("alpha", 0.5, Seq("t1", "t2"), Row(7, BigDecimal("1.250"))),
        Seq(Row(1.0, 2.0), Row(-3.5, null)),
        Seq(BigDecimal("10.25"), null, BigDecimal("0.00")),
        Seq(Seq(1, 2), Seq.empty[Int], null)),
      Row(2L, null, null, null, null), // null subdocument + null lists
      Row(3L,
        Row(null, null, Seq.empty[String], null), // nulls INSIDE the doc
        Seq.empty[Row],
        Seq.empty[BigDecimal],
        Seq(Seq(9, null, 11))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 2), schema)
    val dir = tmp()
    df.write.format("graftarrow").option("batchRows", "2")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graftarrow").load(dir)
    assert(back.schema == schema)
    assert(back.toJSON.collect().sorted.toSeq ==
      df.toJSON.collect().sorted.toSeq)
    // nested projection still reads (top-level pruning keeps the
    // struct whole — sound, never lossy)
    assert(back.select(col("doc.name")).collect().map(_.getString(0))
      .toSet == Set("alpha", null))
  }

  test("empty result writes no files; reading an empty dir refuses with " +
       "a clear message") {
    val dir = tmp()
    spark.range(10).where(col("id") < 0)
      .write.format("graftarrow").mode("overwrite").save(dir)
    assert(files(dir).isEmpty)
    val e = intercept[Exception] {
      spark.read.format("graftarrow").load(dir).collect()
    }
    assert(e.getMessage.contains("no .arrow files"))
  }

  test("sink codec option: zstd/lz4 body-compressed writes read back " +
       "byte-identical, files shrink, pyarrow-conformant envelope") {
    val df = spark.range(0, 4000)
      .selectExpr("id AS doc_id", "repeat('compressible ', 10) AS text")
    def write(dir: String, codec: Option[String]): Long = {
      val w = df.coalesce(1).write.format("graftarrow").mode("overwrite")
      codec.fold(w)(c => w.option("codec", c)).save(dir)
      files(dir).map(_.length()).sum
    }
    val plainDir = tmp(); val plainBytes = write(plainDir, None)
    val expected = spark.read.format("graftarrow").load(plainDir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    for (c <- Seq("zstd", "lz4")) {
      val dir = tmp()
      val bytes = write(dir, Some(c))
      assert(bytes < plainBytes / 2, s"$c should compress repetitive text")
      assert(spark.read.format("graftarrow").load(dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq == expected, c)
    }
    assertThrows[IllegalArgumentException](write(tmp(), Some("brotli")))
  }

  test("foreign files: dictionary-encoded column decodes to its value " +
       "type; zstd/lz4 body compression inflates transparently; hash " +
       "equals the plain-encoding twin") {
    import org.apache.arrow.vector.compression.CompressionUtil.CodecType
    val rows = (0L until 600L).map(i =>
      (i, Seq("web", "book", "wiki", "code")((i % 4).toInt)))
    def readBack(dir: String) =
      spark.read.format("graftarrow").load(dir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val plainDir = tmp()
    spark.createDataFrame(rows).toDF("doc_id", "source")
      .coalesce(1).write.format("graftarrow").mode("overwrite").save(plainDir)
    val expected = readBack(plainDir)
    for (codec <- Seq(None, Some(CodecType.ZSTD), Some(CodecType.LZ4_FRAME))) {
      val dir = tmp()
      ArrowForeign.write(dir, rows, codec)
      val df = spark.read.format("graftarrow").load(dir)
      // the dictionary-encoded column reports its VALUE type
      assert(df.schema("source").dataType ==
        org.apache.spark.sql.types.StringType, s"codec=$codec")
      assert(readBack(dir) == expected, s"codec=$codec")
      // arrow-java reads its own file back (conformance)
      assert(df.where($"source" === "web").count() == 150, s"codec=$codec")
    }
  }

  test("foreign files: NESTED dictionary-encoded fields (dict inside a " +
       "struct, list of dict) resolve to value types and decode — " +
       "values equal the plain replay, empty lists and all depths hold") {
    val rows: Seq[(Long, String, Long, Seq[String])] =
      (0L until 300L).map { i =>
        val src = Seq("web", "book", "wiki")((i % 3).toInt)
        val tags: Seq[String] =
          if (i % 7 == 0) Seq.empty
          else Seq(s"t${i % 5}", src)
        (i, src, i * 11, tags)
      }
    val dir = tmp()
    ArrowForeign.writeNested(dir, rows)
    val df = spark.read.format("graftarrow").load(dir)
    // schema: every dictionary field reports its VALUE type
    assert(df.schema("meta").dataType == StructType(Seq(
      StructField("source", StringType), StructField("rank", LongType))))
    assert(df.schema("tags").dataType ==
      ArrayType(StringType, containsNull = true))
    val got = df.select($"doc_id", $"meta.source", $"meta.rank",
        $"tags").orderBy("doc_id").collect()
    assert(got.length == 300)
    rows.zip(got).foreach { case ((id, src, rank, tags), r) =>
      assert(r.getLong(0) == id)
      assert(r.getString(1) == src)
      assert(r.getLong(2) == rank)
      assert(r.getSeq[String](3).toList == tags.toList, s"row $id")
    }
    // the decoded columns work as grouping/filter keys (codegen path)
    assert(df.where($"meta.source" === "web").count() == 100)
    assert(df.select(explode($"tags").as("t")).where($"t" === "book")
      .count() == rows.count(r => r._4.contains("book")))
    // fixture generator refuses loudly on nothing-to-write (empty rows)
    val e = intercept[IllegalArgumentException](
      ArrowForeign.writeNested(tmp(), Seq.empty))
    assert(e.getMessage.contains("empty rows"))
    val e2 = intercept[IllegalArgumentException](
      ArrowForeign.write(tmp(), Seq.empty, None))
    assert(e2.getMessage.contains("empty rows"))
  }
}
