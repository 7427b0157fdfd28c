package graft.bson

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Parallelism-equivalence property — the Spark analogue of the
  * reference proving identical results across no-parallelism / thread /
  * process decode (test_arrow.py:1350-1496): schema inference, decode,
  * and an aggregate query over generated document corpora must be
  * invariant to the partition count (repartition 1/4/32).
  *
  * Field ORDER is first-seen and thus partitioning-dependent by design
  * (the reference's serial decode has a unique document order; a
  * round-robin repartition does not), so the invariant is over the
  * field SET with types, and over value multisets — not column order.
  * (Plain ScalaCheck generators sampled in a loop; the scalatestplus
  * bridge isn't among the offline deps.) */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  // one generated corpus: every doc draws from the same field pool with
  // consistent per-field types; fields may be absent or null; ints mix
  // int32/int64 magnitudes (exercising promotion across partitions)
  private val docGen: Gen[List[String]] = {
    val intVal = Gen.frequency(
      3 -> Gen.choose(-1000, 1000).map(_.toString),
      1 -> Gen.choose(3000000000L, 4000000000L).map(_.toString)) // > int32
    val dblVal = Gen.choose(-100.0, 100.0).map(d => f"$d%.4f")
    val strVal = Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\"")
    val boolVal = Gen.oneOf("true", "false")
    val arrVal = Gen.listOfN(3, Gen.choose(0, 9)).map(_.mkString("[", ",", "]"))
    val nested = Gen.zip(Gen.choose(0, 99), dblVal)
      .map { case (a, b) => s"""{"x": $a, "y": $b}""" }
    val fields = List("i" -> intVal, "d" -> dblVal, "s" -> strVal,
      "b" -> boolVal, "arr" -> arrVal, "sub" -> nested)
    val doc = Gen.sequence[List[String], String](fields.map { case (name, vg) =>
      Gen.frequency(
        7 -> vg.map(v => s""""$name": $v"""),
        1 -> Gen.const(s""""$name": null"""),
        2 -> Gen.const("")) // absent
    }).map(_.filter(_.nonEmpty).mkString("{", ", ", "}"))
    Gen.listOfN(120, doc)
  }

  private def fieldSet(st: StructType): Set[(String, DataType)] = {
    def strip(dt: DataType): DataType = dt match {
      case s: StructType =>
        // nested field order is first-seen too: compare as sorted
        StructType(s.fields.map(f => f.copy(dataType = strip(f.dataType)))
          .sortBy(_.name).toIndexedSeq)
      case ArrayType(et, n) => ArrayType(strip(et), n)
      case other => other
    }
    st.fields.map(f => f.name -> strip(f.dataType)).toSet
  }

  test("inference + decode + aggregate are invariant to partition count") {
    for (_ <- 1 to 5) {
      val corpus = sample(docGen)
      val results = Seq(1, 4, 32).map { parts =>
        val docs = spark.createDataset(corpus).repartition(parts)
        val schema = SchemaInference.infer(docs)
        val decoded = DocDecoder.decode(docs, schema, allowInvalid = true)
        // aggregate over sorted column names so schema field order
        // (legitimately partitioning-dependent) can't affect the compare
        val aggs = decoded.schema.fields.sortBy(_.name).flatMap { f =>
          val nn = count(col(f.name)).as(s"nn_${f.name}")
          f.dataType match {
            case LongType | IntegerType =>
              Seq(nn, sum(col(f.name).cast(LongType)).as(s"sum_${f.name}"))
            case DoubleType =>
              Seq(nn, sum(col(f.name).cast(DecimalType(28, 8)))
                .as(s"sum_${f.name}"))
            case _ => Seq(nn)
          }
        }
        val row = decoded.agg(count(lit(1)).as("n"), aggs.toIndexedSeq: _*)
          .collect().head
        (fieldSet(schema), row.toSeq)
      }
      assert(results.distinct.size == 1,
        s"results differ across partitionings:\n${results.mkString("\n")}")
    }
  }

  test("decoded row multiset is partition-invariant under a declared schema") {
    for (_ <- 1 to 3) {
      val corpus = sample(docGen)
      val schema = StructType(Seq(
        StructField("i", LongType), StructField("d", DoubleType),
        StructField("s", StringType), StructField("b", BooleanType)))
      val collected = Seq(1, 4, 32).map { parts =>
        val docs = spark.createDataset(corpus).repartition(parts)
        DocDecoder.decode(docs, schema, allowInvalid = true)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(collected.distinct.size == 1)
    }
  }

  test("binary BSON round trip is partition-invariant end to end") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val results = Seq(1, 4, 32).map { parts =>
      val path = graft.TestDirs.temp("graft_pinv").toString
      df.repartition(parts).write.format("graftdocs")
        .option("format", "bson").mode("overwrite").save(path)
      val back = spark.read.format("graftdocs").schema(df.schema).load(path)
      back.agg(count(lit(1)), sum(col("o_totalprice").cast(DecimalType(18, 4))),
          min(col("o_orderdate")), max(col("o_orderkey")))
        .collect().head.toSeq
    }
    assert(results.distinct.size == 1)
  }
}
