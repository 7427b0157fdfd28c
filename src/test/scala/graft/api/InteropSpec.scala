package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.functions.GraftFunctions

/** Interop + extension surface: CSV/JSON round trips (reference
  * test_arrow.py:474-496,1209-1236), permissive-union schema drift
  * (api.py:114-123), patch_all-style implicits, custom Expression. */
class InteropSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_io").toString

  test("parquet round-trip preserves schema and values") {
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val p = tmp(); df.write.mode("overwrite").parquet(p)
    val back = spark.read.parquet(p)
    assert(back.schema == df.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("CSV round-trip (flat columns, header+schema)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val p = tmp()
    df.write.mode("overwrite").option("header", "true").csv(p)
    val back = spark.read.option("header", "true").schema(df.schema).csv(p)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      df.orderBy("r_regionkey").collect().toSeq)
  }

  test("JSON-lines round-trip") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val p = tmp(); df.write.mode("overwrite").json(p)
    val back = spark.read.schema(df.schema).json(p)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
  }

  test("permissive union reconciles drifted schemas (api.py:114-123 twin)") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((2, 3.5)).toDF("id", "d")
    val u = a.unionByName(b, allowMissingColumns = true)
    assert(u.columns.toSeq == Seq("id", "s", "d"))
    assert(u.count() == 2)
    assert(u.where($"id" === 2).head.isNullAt(1))
  }

  test("implicits expose the MQL surface on DataFrames (monkey.py twin)") {
    import graft.api.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val a = li.mqlFind("""{"l_quantity": {"$gt": 49.0}}""").count()
    val b = li.where($"l_quantity" > 49.0).count()
    assert(a == b && a > 0)
    val g = li.mqlAggregate("""[{"$group": {"_id": "$l_returnflag",
      "n": {"$count": {}}}}]""").count()
    assert(g == 3)
    assert(li.mqlWhere("""{"l_linenumber": 1}""").count() > 0)
  }

  test("unsupported-option stripping (api.py:164-170,242-248 twin)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // warned-and-dropped options still run
    assert(Graft.findWithOptions(li, """{"l_linenumber": 1}""",
      Map("cursor_type" -> "tailable")).count() > 0)
    assert(Graft.aggregateWithOptions(li, """[{"$count": "n"}]""",
      Map("batchSize" -> 100, "useCursor" -> true)).count() == 1)
    // unknown options reject
    intercept[graft.mql.MqlException] {
      Graft.findWithOptions(li, "{}", Map("tailable" -> true))
    }
  }

  test("find-options tail: hint/min/max/returnKey/comment (api.py:175 kwargs)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // named-index hint + comment: accepted, no result change
    assert(Graft.findWithOptions(li, """{"l_linenumber": 1}""",
      Map("hint" -> "idx_x", "comment" -> "audit")).count() ==
      Graft.find(li, """{"l_linenumber": 1}""").count())
    // min/max = inclusive-lower / exclusive-upper index bounds → ranges
    val bounded = Graft.findWithOptions(li, "{}",
      Map("hint" -> """{"l_orderkey": 1}""",
          "min" -> """{"l_orderkey": 100}""",
          "max" -> """{"l_orderkey": 200}"""))
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val mm = bounded.agg(fmin("l_orderkey"), fmax("l_orderkey")).head
    assert(mm.getLong(0) >= 100L && mm.getLong(1) < 200L)
    // returnKey: only the hinted key fields come back
    val keys = Graft.findWithOptions(li, """{"l_linenumber": 1}""",
      Map("hint" -> """{"l_orderkey": 1}""", "return_key" -> true))
    assert(keys.columns.toSeq == Seq("l_orderkey"))
    // returnKey without a field hint: zero columns (Mongo's empty docs)
    assert(Graft.findWithOptions(li, "{}", Map("return_key" -> true))
      .columns.isEmpty)
  }

  test("concurrent query execution on one session (test_arrow.py:1238-1259 twin)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val futures = (1 to 4).map { i =>
      Future {
        import graft.api.implicits._
        li.mqlFind(s"""{"l_linenumber": $i}""").count()
      }
    }
    val counts = Await.result(Future.sequence(futures), 120.seconds)
    assert(counts.sum == li.where($"l_linenumber".between(1, 4)).count())
  }

  test("decimal round-trip through sink and decoder") {
    import graft.sinks.DocWriter
    import graft.bson.DocDecoder
    val df = spark.range(5).select($"id",
      ($"id".cast("decimal(20,4)") / lit(3).cast("decimal(20,4)")).as("d"))
    val p = graft.TestDirs.temp("graft_dec").toString
    DocWriter.write(df, p)
    val back = DocDecoder.decode(spark.read.textFile(s"$p/*.jsonl"), df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("findWithSchema: schema synthesizes the projection (api.py:172-173 twin)") {
    import graft.schema.MSchema
    import org.apache.spark.sql.types._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val schema = MSchema.of("l_orderkey" -> LongType, "l_quantity" -> DoubleType)
    val out = Graft.findWithSchema(li, schema,
      filter = """{"l_quantity": {"$gt": 49.0}}""",
      sort = Some("""{"l_orderkey": 1}"""))
    assert(out.columns.toSeq == Seq("l_orderkey", "l_quantity"))
    // pruning reaches the parquet scan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"not pruned:\n$plan")
    assert(out.count() == li.where($"l_quantity" > 49.0).count())
  }

  test("objectid_to_timestamp custom expression (codegen + SQL registration)") {
    GraftFunctions.register(spark)
    // OID 65cf7cab... → epoch secs 0x65cf7cab = 1708096683
    val hex = "65cf7cab" + "0000000000000000"
    val bytes = hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val df = Seq(Tuple1(bytes)).toDF("oid")
    val got = df.select(GraftFunctions.objectIdToTimestamp($"oid").as("ts"))
      .as[java.sql.Timestamp].head()
    assert(got.toInstant.getEpochSecond == 1708096683L)
    // also callable from SQL
    df.createOrReplaceTempView("oids")
    val viaSql = spark.sql("SELECT objectid_to_timestamp(oid) FROM oids")
      .as[java.sql.Timestamp].head()
    assert(viaSql == got)
    // wrong length → null
    val bad = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("oid")
    assert(bad.select(GraftFunctions.objectIdToTimestamp($"oid")).head.isNullAt(0))
  }
}
