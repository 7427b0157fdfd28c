package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Property sweep for the direct readers' decode-time filter machinery
  * (DirectColumnarReaderBase): random datasets × random predicate trees,
  * pushed through the REAL scan (so the in-reader evaluation + row
  * compaction runs), must return exactly what Spark's own filter returns
  * over DocDecoder's per-document rows of the same files — for both
  * formats. The predicate shapes cover
  * everything DocFilterEval claims (=, <, <=, >, >=, IS NULL, IS NOT
  * NULL, IN, AND, OR) over long/double/string/bool/timestamp columns
  * with nulls, plus partition-mixing via a hive-partitioned variant. */
class DirectFilterPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    graft.schema.MSchema.timestampField("ts")))

  private def rowGen: Gen[Row] = {
    def opt[A](g: Gen[A]): Gen[Any] =
      Gen.frequency(4 -> g.map(x => x: Any), 1 -> Gen.const(null))
    for {
      l <- opt(Gen.chooseNum(-50L, 50L))
      d <- opt(Gen.oneOf(Gen.chooseNum(-5.0, 5.0), Gen.oneOf(0.0, -0.0, 2.5)))
      s <- opt(Gen.oneOf("a", "b", "cc", "", "héllo"))
      b <- opt(Gen.oneOf(true, false))
      t <- opt(Gen.chooseNum(0L, 4L).map(h =>
        java.time.LocalDateTime.parse(s"2024-01-0${h + 1}T12:00:00")))
    } yield Row(0L, l, d, s, b, t)
  }

  /** Random predicate over the generated columns, as a SQL string so the
    * same text drives the scan's pushdown and the reference's filter. */
  private def predGen(depth: Int): Gen[String] = {
    val leafs: Seq[Gen[String]] = Seq(
      Gen.chooseNum(-50L, 50L).map(v => s"l > $v"),
      Gen.chooseNum(-50L, 50L).map(v => s"l <= $v"),
      Gen.chooseNum(-5.0, 5.0).map(v => s"d < $v"),
      Gen.oneOf("a", "b", "cc", "héllo").map(v => s"s = '$v'"),
      Gen.oneOf("a", "b").map(v => s"s >= '$v'"),
      Gen.oneOf(Seq("l IS NULL", "d IS NOT NULL", "s IS NOT NULL",
        "b = true", "b IS NULL")).map(identity),
      Gen.someOf(Seq(-3L, 0L, 7L, 21L)).map(vs =>
        if (vs.isEmpty) "l IN (99)" else s"l IN (${vs.mkString(",")})"),
      Gen.chooseNum(1, 4).map(h =>
        s"ts >= timestamp_ntz'2024-01-0$h 00:00:00'"))
    if (depth == 0) Gen.oneOf(leafs(0), leafs(1), leafs.drop(2): _*)
    else Gen.frequency(
      2 -> Gen.oneOf(leafs(0), leafs(1), leafs.drop(2): _*),
      1 -> (for {
        a <- predGen(depth - 1); b <- predGen(depth - 1)
        op <- Gen.oneOf("AND", "OR")
      } yield s"($a $op $b)"))
  }

  private def writeRows(rows: Seq[Row], format: String,
                        partitioned: Boolean): String = {
    val dir = graft.TestDirs.temp("graft_dfp").toString + "/t"
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val w = df.repartition(2).write.format("graftdocs")
      .option("format", format).mode("overwrite")
    (if (partitioned) w.option("partitionby", "b") else w).save(dir)
    dir
  }

  test("random filters: direct scan ≡ DocDecoder rows filtered by Spark, both formats (30 draws)") {
    for (round <- 1 to 30) {
      val format = if (round % 2 == 0) "bson" else "jsonl"
      val partitioned = round % 3 == 0
      val n = sample(Gen.chooseNum(30, 120))
      val rows = (1 to n).map(i => {
        val r = sample(rowGen); Row(i.toLong +: r.toSeq.tail: _*)
      })
      val dir = writeRows(rows, format, partitioned)
      val pred = sample(predGen(2))
      val q = spark.read.format("graftdocs").schema(schema)
        .option("allowInvalid", true).load(dir).where(pred)
      val direct = q.collect().toSeq.map(_.json).sorted
      val counts = ScanCountsOf(q)
      // zone maps may prune EVERY file for an always-false predicate —
      // then no reader runs at all, which is the correct outcome
      assert(counts.emitted + counts.skipped > 0 || direct.isEmpty,
        s"round $round [$format]: no document decoded for `$pred`")
      val row = DocReference.frame(spark,
        DocReference.files(dir, schema, strict = false), schema)
        .where(pred).collect().toSeq.map(_.json).sorted
      assert(direct == row,
        s"round $round [$format, partitioned=$partitioned] diverged on `$pred`")
    }
  }

  test("decode-time skip accounting stays exact under pushed filters") {
    val rows = (1 to 500).map(i =>
      Row(i.toLong, i.toLong % 10, i / 100.0, s"s${i % 3}", i % 2 == 0,
        java.time.LocalDateTime.parse("2024-01-01T00:00:00")))
    for (format <- Seq("jsonl", "bson")) {
      val dir = writeRows(rows, format, partitioned = false)
      val q = spark.read.format("graftdocs").schema(schema).load(dir)
        .where("l = 3 AND s = 's1'")
      val got = q.collect().length
      val counts = ScanCountsOf(q)
      assert(counts.emitted == got.toLong, format)
      assert(counts.emitted + counts.skipped == 500L, format)
    }
  }
}
