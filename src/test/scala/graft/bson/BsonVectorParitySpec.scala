package graft.bson

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.MSchema
import graft.sources.DocReference

/** The graftdocs scan's direct BSON→vector decode must agree
  * cell-for-cell with the tree decode (BsonBinary → DocDecoder) of the
  * same bytes — the coercion matrix, strict errors, missing-field null
  * catch-up, nested recursion, wire-level pruning. Fixtures are written
  * with one schema (natural types) and read with another (declared
  * types) to force every cross-acceptance cell through both decoders.
  */
class BsonVectorParitySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** `rows` encoded under `writeSchema` as one .bson file; its
    * directory and bytes. */
  private def bsonFile(rows: Seq[Row], writeSchema: StructType,
                       prefix: String): (String, Array[Byte]) = {
    val dir = graft.TestDirs.temp(prefix)
    val out = new java.io.ByteArrayOutputStream()
    rows.foreach(r => out.write(BsonBinary.encodeRow(r, writeSchema)))
    java.nio.file.Files.write(dir.resolve("docs.bson"), out.toByteArray)
    (dir.toString, out.toByteArray)
  }

  /** Write rows under writeSchema as .bson, then read them under
    * readSchema through the scan (direct) and through DocDecoder (tree);
    * compare canonical. */
  private def bothPaths(rows: Seq[Row], writeSchema: StructType,
                        readSchema: StructType, allowInvalid: Boolean = false)
      : (Seq[String], Seq[String]) = {
    val (dir, bytes) = bsonFile(rows, writeSchema, "graft_bvd")
    val direct = spark.read.format("graftdocs").schema(readSchema)
      .option("allowInvalid", allowInvalid).load(dir).collect().toSeq.map(_.json)
    val tree = DocReference.frame(spark,
      DocReference.bson(bytes, readSchema, strict = !allowInvalid), readSchema)
      .collect().toSeq.map(_.json)
    (direct, tree)
  }

  test("cross-acceptance matrix: direct ≡ tree") {
    // natural write types, coercing read types
    val w = StructType(Seq(
      StructField("a", BooleanType),   // bool → int
      StructField("b", DoubleType),    // double → long (truncate, NaN null)
      StructField("c", IntegerType),   // int32 → double
      StructField("d", LongType),      // int64 → double
      StructField("e", IntegerType),   // int32 → long
      StructField("f", DoubleType)))   // double → int (truncate)
    val r = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", DoubleType), StructField("d", DoubleType),
      StructField("e", LongType), StructField("f", IntegerType)))
    val rows = Seq(
      Row(true, 3.9, 7, 123456789012345L, -5, -2.7),
      Row(false, -0.5, 0, -1L, Int.MaxValue, 2.0e9),
      Row(null, Double.NaN, null, 0L, null, Double.NaN))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree)
  }

  test("full type surface: strings/bool/dates/decimal/oid/binary/nested") {
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("b", BooleanType),
      MSchema.timestampField("ts"),
      StructField("dt", DateType),
      StructField("dec", DecimalType(38, 10)),
      MSchema.objectIdField("oid"),
      MSchema.binaryField("bin", 0),
      StructField("arr", ArrayType(LongType)),
      StructField("nested", StructType(Seq(
        StructField("x", DoubleType),
        StructField("tags", ArrayType(StringType)),
        StructField("inner", StructType(Seq(StructField("y", StringType))))))),
      StructField("structs", ArrayType(StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))))))
    val rows = Seq(
      Row("héllo 🎉", true, java.time.LocalDateTime.parse("2023-11-14T22:13:20.123"),
        java.sql.Date.valueOf("2021-06-15"),
        new java.math.BigDecimal("12345.6789012345"),
        Array.tabulate[Byte](12)(_.toByte), Array[Byte](1, 2, 3, 4),
        Seq(1L, null, 3L),
        Row(2.25, Seq("t1", "t2"), Row("deep")),
        Seq(Row(1L, "one"), Row(2L, null))),
      Row(null, null, null, null, null, null, null, Seq.empty[Long],
        Row(null, null, null), null),
      // whole row of missing fields exercised via nulls above; this row
      // checks empty containers
      Row("", false, null, null, new java.math.BigDecimal("0"),
        null, Array.empty[Byte], null, null, Seq.empty[Row]))
    val (direct, tree) = bothPaths(rows, schema, schema)
    assert(direct == tree)
  }

  test("pruned read skips undeclared fields at the byte level") {
    val w = StructType(Seq(
      StructField("keep", LongType), StructField("drop1", StringType),
      StructField("drop2", ArrayType(DoubleType)),
      StructField("drop3", StructType(Seq(StructField("z", StringType))))))
    val rows = (1 to 500).map(i => Row(i.toLong, "x" * 50,
      Seq(1.0, 2.0, 3.0), Row("deep")))
    val r = StructType(Seq(StructField("keep", LongType)))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree && direct.length == 500)
  }

  test("strict-mode mismatch raises the same error both ways") {
    val w = StructType(Seq(StructField("v", StringType)))
    val r = StructType(Seq(StructField("v", IntegerType)))
    val rows = Seq(Row("not-an-int"))
    val (dir, bytes) = bsonFile(rows, w, "graft_bvd_strict")
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftdocs").schema(r).load(dir).collect()
    }
    assert(DocReference.rootMessage[GraftTypeError](e) ==
      intercept[GraftTypeError](DocReference.bson(bytes, r)).getMessage)
    // permissive mode nulls instead, identically
    val (direct, tree) = bothPaths(rows, w, r, allowInvalid = true)
    assert(direct == tree && direct.length == 1)
  }

  test("permissive coercion failures null identically (matrix sweep)") {
    val w = StructType(Seq(
      StructField("a", StringType),   // string where int declared
      StructField("b", LongType),     // long where bool declared
      StructField("c", DoubleType),   // double where string declared
      StructField("d", BooleanType))) // bool where timestamp declared
    val r = StructType(Seq(
      StructField("a", IntegerType), StructField("b", BooleanType),
      StructField("c", StringType), MSchema.timestampField("d")))
    val rows = Seq(Row("nope", 5L, 1.5, true), Row(null, null, null, null))
    val (direct, tree) = bothPaths(rows, w, r, allowInvalid = true)
    assert(direct == tree)
  }

  test("fuzz: random schemas × random rows decode identically both ways") {
    import org.scalacheck.Gen
    def sample[A](g: Gen[A]): A =
      Iterator.continually(g.sample).flatten.next()

    val scalarTypes: Seq[DataType] = Seq(LongType, IntegerType, DoubleType,
      StringType, BooleanType, DateType, DecimalType(18, 4))
    def typeGen(depth: Int): Gen[DataType] =
      if (depth == 0) Gen.oneOf(scalarTypes)
      else Gen.frequency(
        5 -> Gen.oneOf(scalarTypes),
        1 -> Gen.listOfN(2, fieldGen(depth - 1)).map(fs =>
          StructType(fs.zipWithIndex.map { case (f, i) => f.copy(name = s"f$i") })),
        1 -> typeGen(depth - 1).map(t => ArrayType(t)))
    def fieldGen(depth: Int): Gen[StructField] =
      typeGen(depth).map(t => StructField("x", t))

    val strGen = Gen.oneOf("", "a", "héllo", "with space", "🎉", "x" * 40)
    def valueGen(dt: DataType): Gen[Any] = dt match {
      case LongType => Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      case IntegerType => Gen.chooseNum(Int.MinValue, Int.MaxValue)
      case DoubleType => Gen.oneOf(Gen.chooseNum(-1e12, 1e12), Gen.oneOf(
        0.0, -0.0, Double.NaN, 1.5e-8))
      case StringType => strGen
      case BooleanType => Gen.oneOf(true, false)
      case DateType => Gen.chooseNum(-30000, 30000)
        .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
      case _: DecimalType => Gen.chooseNum(-999999999999L, 999999999999L)
        .map(v => new java.math.BigDecimal(java.math.BigInteger.valueOf(v), 4))
      case st: StructType => Gen.sequence[Seq[Any], Any](
        st.fields.toSeq.map(f => nullableGen(f.dataType))).map(Row.fromSeq)
      case ArrayType(et, _) =>
        Gen.chooseNum(0, 4).flatMap(n =>
          Gen.sequence[Seq[Any], Any](Seq.fill(n)(nullableGen(et))))
      case other => throw new IllegalArgumentException(other.toString)
    }
    def nullableGen(dt: DataType): Gen[Any] =
      Gen.frequency(6 -> valueGen(dt), 1 -> Gen.const(null))

    for (round <- 1 to 25) {
      val nCols = sample(Gen.chooseNum(1, 6))
      val schema = StructType((0 until nCols).map(i =>
        sample(fieldGen(2)) match { case f => f.copy(name = s"c$i") }))
      val rows = (1 to 20).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => sample(nullableGen(f.dataType)))))
      val (direct, tree) = bothPaths(rows, schema, schema)
      assert(direct == tree, s"round $round schema ${schema.simpleString}")
    }
  }

  test("absurd datetime on a date32 target: raw overflow raise, not truncation") {
    // a day count beyond int range raises the tree appender's RAW
    // ArithmeticException (toIntExact) in BOTH modes; a silent .toInt
    // truncation would decode garbage instead
    val w = StructType(Seq(MSchema.timestampField("d")))
    val r = StructType(Seq(StructField("d", DateType,
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "date32").build())))
    for (ms <- Seq(4000000000000000000L, -4000000000000000000L)) {
      val (dir, bytes) = bsonFile(Seq(Row(new java.sql.Timestamp(ms))), w, "graft_bvd_date")
      val direct = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs").schema(r)
          .option("allowInvalid", true).load(dir).collect()
      }
      val tree = intercept[Exception] {
        DocReference.frame(spark, DocReference.bson(bytes, r, strict = false), r).collect()
      }
      assert(DocReference.rootMessage[ArithmeticException](direct) ==
        DocReference.rootMessage[ArithmeticException](tree))
    }
    // sane values still decode identically
    val (direct, tree) = bothPaths(
      Seq(Row(java.sql.Timestamp.valueOf("2021-06-15 00:00:00"))), w, r)
    assert(direct == tree && direct.length == 1)
  }

  test("decimal128 raw-BID passthrough parity on the direct path") {
    val w = StructType(Seq(StructField("v", DecimalType(18, 4))))
    val r = StructType(Seq(MSchema.decimalRawField("v")))
    val rows = Seq(Row(new java.math.BigDecimal("12345.6789")), Row(null))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree)
  }
}
