package graft.bson

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.MSchema
import graft.sources.DocReference

/** The graftdocs scan's direct ext-JSON→vector token decode
  * (JsonVectorDecoder, no JsonNode tree) must agree cell-for-cell with
  * the tree decode (ObjectMapper.readTree → DocDecoder) of the same
  * lines — coercion matrix, $-wrapper forms, wrapper-vs-document
  * sniffing, strict errors, malformed-payload rule, missing-field null
  * catch-up, nested recursion. Fixtures are raw ext-JSON lines (to pin exact wire shapes
  * incl. pathological ones) plus engine-written round-trips. */
class JsonVectorParitySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** `lines` as one .jsonl file; its directory. */
  private def jsonlFile(lines: Seq[String], prefix: String): String = {
    val dir = graft.TestDirs.temp(prefix)
    java.nio.file.Files.write(dir.resolve("docs.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir.toString
  }

  /** Write raw jsonl lines, read them under `readSchema` through the
    * scan (direct token path) and through DocDecoder (tree), compare
    * canonical. */
  private def bothPaths(lines: Seq[String], readSchema: StructType,
                        allowInvalid: Boolean = false): (Seq[String], Seq[String]) = {
    val direct = spark.read.format("graftdocs").schema(readSchema)
      .option("allowInvalid", allowInvalid).load(jsonlFile(lines, "graft_jvd"))
      .collect().toSeq.map(_.json)
    val tree = DocReference.frame(spark,
      DocReference.jsonl(lines, readSchema, strict = !allowInvalid), readSchema)
      .collect().toSeq.map(_.json)
    (direct, tree)
  }

  test("cross-acceptance + wrapper matrix: direct ≡ tree") {
    val r = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", DoubleType), StructField("d", DoubleType),
      StructField("e", LongType), StructField("f", IntegerType)))
    val lines = Seq(
      // bool→int, double→long truncate, int→double, $numberLong→double,
      // int32→long, double→int truncate
      """{"a": true, "b": 3.9, "c": 7, "d": {"$numberLong": "123456789012345"}, "e": -5, "f": -2.7}""",
      """{"a": false, "b": -0.5, "c": 0, "d": -1, "e": 2147483647, "f": 2.0e9}""",
      // NaN → null on numeric targets; missing fields null catch-up
      """{"a": NaN, "b": NaN, "c": NaN}""",
      // $numberDouble wrappers everywhere they're legal
      """{"a": {"$numberDouble": "12.9"}, "b": {"$numberDouble": "-7.2"}, "c": {"$numberDouble": "NaN"}, "d": {"$numberDouble": "1.5e3"}, "e": {"$numberLong": "42"}, "f": {"$numberLong": "-9"}}""",
      // explicit nulls
      """{"a": null, "b": null, "c": null, "d": null, "e": null, "f": null}""")
    val (direct, tree) = bothPaths(lines, r)
    assert(direct == tree && direct.length == 5)
  }

  test("full type surface: strings/bool/dates/decimal/oid/binary/nested") {
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("b", BooleanType),
      MSchema.timestampField("ts"),
      StructField("dt", DateType,
        metadata = new MetadataBuilder()
          .putString(MSchema.BsonTypeKey, "date32").build()),
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
    val lines = Seq(
      """{"s": "héllo 🎉", "b": true, "ts": {"$date": 1700000000123},
         "dt": {"$date": 1623715200000}, "dec": {"$numberDecimal": "12345.6789012345"},
         "oid": {"$oid": "5f0e3a2b1c9d440000abcdef"},
         "bin": {"$binary": {"base64": "AQIDBA==", "subType": "00"}},
         "arr": [1, null, 3], "nested": {"x": 2.25, "tags": ["t1", "t2"], "inner": {"y": "deep"}},
         "structs": [{"k": 1, "v": "one"}, {"k": 2, "v": null}]}""",
      // ISO-string $date; bare-number decimal; empty containers
      """{"s": "", "b": false, "ts": {"$date": "2023-11-14T22:13:20.123Z"},
         "dt": {"$date": -86400001}, "dec": 42.5, "arr": [],
         "nested": {"x": null, "tags": null, "inner": null}, "structs": []}""",
      """{"dec": {"$numberDecimal": "0"}}""")
      .map(_.replaceAll("\n\\s*", " "))
    val (direct, tree) = bothPaths(lines, schema)
    assert(direct == tree && direct.length == 3)
  }

  test("wrapper-vs-document sniffing edges") {
    val schema = StructType(Seq(
      StructField("st", StructType(Seq(
        StructField("$weird", LongType), StructField("n", LongType)))),
      StructField("plain", StructType(Seq(StructField("k", LongType)))),
      StructField("i", IntegerType)))
    val lines = Seq(
      // multi-key document whose FIRST key is $-named AND declared:
      // the captured first value must replay losslessly
      """{"st": {"$weird": 7, "n": 1}, "plain": {"k": 2}, "i": 3}""",
      // multi-key document, $-named first key NOT declared
      """{"st": {"$undeclared": {"deep": [1, 2]}, "n": 4}, "plain": {}, "i": 5}""",
      // empty document for a struct target
      """{"st": {}, "plain": {"k": null}}""",
      // unknown single-$-key object = document for bsonTypeName → null
      // under allowInvalid on the scalar, fail-shape parity on struct
      """{"i": {"$foo": 1}, "plain": {"k": 9}}""",
      // single-key KNOWN wrapper against a struct target (type mismatch)
      """{"st": {"$numberLong": "8"}, "i": 6}""",
      // non-object root line → all-null row
      """[1, 2, 3]""",
      """42""")
    val (direct, tree) = bothPaths(lines, schema, allowInvalid = true)
    assert(direct == tree && direct.length == 7)
  }

  test("strict-mode mismatch raises the same error both ways") {
    def sameError(line: String, readSchema: StructType): Unit = {
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs").schema(readSchema)
          .load(jsonlFile(Seq(line), "graft_jvd_strict")).collect()
      }
      assert(DocReference.rootMessage[GraftTypeError](e) ==
        intercept[GraftTypeError](DocReference.jsonl(Seq(line), readSchema)).getMessage,
        line)
    }
    val cases = Seq(
      ("""{"v": "nope"}""", StructType(Seq(StructField("v", IntegerType)))),
      ("""{"v": {"a": 1, "b": 2}}""", StructType(Seq(StructField("v", LongType)))),
      ("""{"v": {"$numberLong": "xyz"}}""", StructType(Seq(StructField("v", LongType)))),
      ("""{"v": {"$date": "not-a-date"}}""", StructType(Seq(MSchema.timestampField("v")))),
      ("""{"v": [1]}""", StructType(Seq(StructField("v", DoubleType)))),
      ("""{"v": {"$numberLong": "1"}}""", StructType(Seq(
        StructField("v", StructType(Seq(StructField("x", LongType))))))),
      ("""{"v": 3.5}""", StructType(Seq(StructField("v", BooleanType)))))
    cases.foreach { case (line, rs) => sameError(line, rs) }
    // integer overflow raises unconditionally, identically
    sameError("""{"v": 3000000000}""", StructType(Seq(StructField("v", IntegerType))))
  }

  test("permissive malformed payloads null identically (matrix sweep)") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      MSchema.timestampField("c"), StructField("d", DecimalType(18, 4)),
      MSchema.objectIdField("e"), MSchema.binaryField("f", 0),
      StructField("g", StringType)))
    val lines = Seq(
      // malformed wrapper payloads of every flavor
      """{"a": {"$numberLong": "abc"}, "b": {"$numberDouble": "zz"}, "c": {"$date": "bad"}, "d": {"$numberDecimal": "x"}, "e": {"$oid": "zzzz"}, "f": {"$binary": "flat"}, "g": 5}""",
      // wrapper payloads that are containers (tree asText → "")
      """{"a": {"$numberLong": [1]}, "c": {"$date": {"k": 1}}, "d": {"$numberDecimal": {"v": 2}}}""",
      // subtype mismatch on $binary; bad base64
      """{"f": {"$binary": {"base64": "AQID", "subType": "04"}}}""",
      """{"f": {"$binary": {"base64": "!!!", "subType": "00"}}}""",
      // type mismatches across the board
      """{"a": "s", "b": true, "c": 5, "d": "x", "e": 1, "f": [1], "g": {"k": 1}}""")
    val (direct, tree) = bothPaths(lines, schema, allowInvalid = true)
    assert(direct == tree && direct.length == 5)
  }

  test("absurd $date on a date32 target: raw overflow raise, not truncation") {
    // a day count beyond int range raises the tree appender's RAW
    // ArithmeticException (toIntExact) in BOTH modes; a silent .toInt
    // truncation would decode garbage instead
    val schema = StructType(Seq(StructField("d", DateType,
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "date32").build())))
    for (line <- Seq("""{"d": {"$date": 4000000000000000000}}""",
                     """{"d": {"$date": -4000000000000000000}}""")) {
      val direct = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs").schema(schema).option("allowInvalid", true)
          .load(jsonlFile(Seq(line), "graft_jvd_date")).collect()
      }
      val tree = intercept[Exception] {
        DocReference.frame(spark,
          DocReference.jsonl(Seq(line), schema, strict = false), schema).collect()
      }
      assert(DocReference.rootMessage[ArithmeticException](direct) ==
        DocReference.rootMessage[ArithmeticException](tree))
    }
    // sane values still decode identically
    val (direct, tree) =
      bothPaths(Seq("""{"d": {"$date": 1623715200000}}"""), schema)
    assert(direct == tree && direct.length == 1)
  }

  test("ISO $date keeps sub-millisecond precision on TimestampType") {
    // tree path: Timestamp.from(Instant) → fromJavaTimestamp keeps
    // micros; a toEpochMilli shortcut would truncate to .000
    val schema = StructType(Seq(
      StructField("ltz", TimestampType),
      MSchema.timestampField("ntz"), // NTZ truncates to ms, as the tree does
      StructField("i", LongType)))
    val lines = Seq(
      """{"ltz": {"$date": "2024-01-01T00:00:00.000123Z"}, "ntz": {"$date": "2024-01-01T00:00:00.000123Z"}, "i": 1}""",
      """{"ltz": {"$date": "2024-01-01T00:00:00.123456789Z"}, "ntz": {"$date": "2024-01-01T00:00:00.123456789Z"}, "i": 2}""",
      """{"ltz": {"$date": 1700000000123}, "ntz": {"$date": 1700000000123}, "i": 3}""")
    val (direct, tree) = bothPaths(lines, schema)
    assert(direct == tree && direct.length == 3)
    // and the sub-ms digits actually survived (Row.json renders without
    // fractions — read the epoch micros directly)
    def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy("i")
        .select(org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ltz")))
        .collect().toSeq.map(_.getLong(0))
    val md = micros(spark.read.format("graftdocs").schema(schema)
      .load(jsonlFile(lines, "graft_jvd_subms")))
    assert(md == micros(DocReference.frame(spark, DocReference.jsonl(lines, schema), schema)))
    assert(md(0) % 1000 == 123L, s"sub-ms truncated: $md")
    assert(md(1) % 1000000 == 123456L, s"sub-ms truncated: $md")
  }

  test("FLOAT wrapper payloads follow the tree's canonical double render") {
    // DoubleNode.asText re-renders the parsed double: 1e999 → "Infinity"
    // (BigDecimal refuses → malformed/null), long literals shorten.
    // Using the raw lexeme instead would accept 1e999 into a decimal
    // column and keep literal digits the tree path never sees.
    val schema = StructType(Seq(
      StructField("d", DecimalType(38, 10)),
      MSchema.objectIdField("o"), StructField("l", LongType)))
    val lines = Seq(
      """{"d": {"$numberDecimal": 1e999}}""",
      """{"d": {"$numberDecimal": 0.1000000000000000055511151231257827}}""",
      """{"d": {"$numberDecimal": 42.50}}""",
      """{"o": {"$oid": 4e5}}""",
      """{"l": {"$numberLong": 4.50}}""")
    val (direct, tree) = bothPaths(lines, schema, allowInvalid = true)
    assert(direct == tree && direct.length == 5)
  }

  test("number-classification edges: BigInteger / huge doubles / -0.0") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      StructField("c", DecimalType(30, 4))))
    val lines = Seq(
      // BigInteger literal: tree's asLong keeps the low 64 bits
      """{"a": 18446744073709551617, "b": 18446744073709551617, "c": 18446744073709551617}""",
      """{"a": -0.0, "b": -0.0, "c": -0.0}""",
      """{"b": 1e308, "c": 123456789.5}""",
      """{"a": 9223372036854775807, "b": -1e-12}""")
    val (direct, tree) = bothPaths(lines, schema, allowInvalid = true)
    assert(direct == tree && direct.length == 4)
  }

  test("engine-written jsonl round-trips identically through both paths") {
    import org.scalacheck.Gen
    def sample[A](g: Gen[A]): A =
      Iterator.continually(g.sample).flatten.next()
    val scalarTypes: Seq[DataType] = Seq(LongType, IntegerType, DoubleType,
      StringType, BooleanType, DateType, DecimalType(18, 4))
    def typeGen(depth: Int): Gen[DataType] =
      if (depth == 0) Gen.oneOf(scalarTypes)
      else Gen.frequency(
        5 -> Gen.oneOf(scalarTypes),
        1 -> Gen.listOfN(2, typeGen(depth - 1)).map(ts =>
          StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) })),
        1 -> typeGen(depth - 1).map(t => ArrayType(t)))
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

    for (round <- 1 to 15) {
      val nCols = sample(Gen.chooseNum(1, 6))
      val schema = StructType((0 until nCols).map(i =>
        StructField(s"c$i", sample(typeGen(2)))))
      val rows = (1 to 20).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => sample(nullableGen(f.dataType)))))
      val dir = graft.TestDirs.temp("graft_jvd_fuzz")
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
        .repartition(1)
        .write.format("graftdocs").mode("overwrite").save(dir.toString)
      val direct = spark.read.format("graftdocs").schema(schema).load(dir.toString)
        .collect().toSeq.map(_.json).sorted
      val tree = DocReference.frame(spark,
        DocReference.files(dir.toString, schema), schema)
        .collect().toSeq.map(_.json).sorted
      assert(direct == tree, s"round $round schema ${schema.simpleString}")
    }
  }

  test("duplicate keys keep the LAST value, direct ≡ tree (top level + struct)") {
    val schema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(38, 10)),
      StructField("arr", ArrayType(LongType)),
      StructField("st", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    val lines = Seq(
      // scalar dups: last wins, including null-as-last and value-after-null
      """{"i": 1, "i": 2, "s": "first", "s": "last", "d": 0.5, "d": null, "dec": 1.5, "dec": 2.5}""",
      """{"i": null, "i": 7, "s": null, "s": "late", "d": null, "d": 9.75}""",
      // triple dup; variable-width growth (longer string later)
      """{"i": 1, "i": 2, "i": 3, "s": "a", "s": "a-much-longer-replacement-value"}""",
      // container dups: whole array / whole struct replaced
      """{"arr": [1, 2, 3], "arr": [9], "st": {"x": 1, "y": "old"}, "st": {"x": 2, "y": "new"}}""",
      // dup INSIDE a struct; dup struct where the later one is null
      """{"st": {"x": 1, "x": 5, "y": "k", "y": "kk"}, "arr": [1], "arr": null}""",
      """{"st": {"x": 3, "y": "keep"}, "st": null, "i": 4, "i": 6}""",
      // interleaved dups across two fields
      """{"i": 1, "s": "p", "i": 2, "s": "q", "i": 3}""")
    val (direct, tree) = bothPaths(lines, schema)
    assert(direct == tree && direct.length == 7)
    // pin the semantics, not just parity: spot-check last-wins values
    val mapper = graft.bson.DocDecoder.newMapper()
    val r0 = mapper.readTree(direct.head)
    assert(r0.get("i").asInt == 2 && r0.get("s").asText == "last"
      && r0.get("d").isNull && r0.get("dec").asDouble == 2.5)
    val r3 = mapper.readTree(direct(3))
    assert(r3.get("arr").size == 1 && r3.get("arr").get(0).asLong == 9L
      && r3.get("st").get("x").asLong == 2L && r3.get("st").get("y").asText == "new")
    val r4 = mapper.readTree(direct(4))
    assert(r4.get("st").get("x").asLong == 5L
      && r4.get("st").get("y").asText == "kk" && r4.get("arr").isNull)
  }
}
