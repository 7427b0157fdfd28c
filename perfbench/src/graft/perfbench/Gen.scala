package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs. Every value is a pure function of (seed, row id), so
  * the same seed gives the same documents on any machine, and nothing
  * outside the benchmark's generators reaches the program. */
object Gen {
  val Shapes: Seq[String] = Seq("small", "large", "nested", "extension")

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  private def unit(seed: Long, k: Int): Column =
    h(seed, k).bitwiseAND(0xFFFFFFFFL).cast(DoubleType) / 4294967296.0
  private def mod(seed: Long, k: Int, m: Long): Column = pmod(h(seed, k), lit(m))
  private def pick(seed: Long, k: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (mod(seed, k, values.size.toLong) + 1).cast(IntegerType))

  /** The reference benchmark's document shapes (each with a file-ordered
    * int64 `_id`): small {x:int64, y:float64}; large, 20 doubles;
    * nested, a 20-element array plus a 20-field subdocument; extension,
    * Decimal128 plus Binary subtype 10. Ids run over [from, until). */
  def shape(spark: SparkSession, name: String, from: Long, until: Long,
            seed: Long, parts: Int): DataFrame = {
    val base = spark.range(from, until, 1, parts)
    val id = col("id").as("_id")
    name match {
      case "small" =>
        base.select(id, mod(seed, 1, 1000000L).as("x"), (unit(seed, 2) * 1000).as("y"))
      case "large" =>
        base.select(id +: (0 until 20).map(i => (unit(seed, 10 + i) * 1000).as(s"f$i")): _*)
      case "nested" =>
        base.select(id,
          expr(s"transform(sequence(0, 19), i -> " +
            s"(xxhash64(${seed}L, id, 100 + i) & 4294967295) / 4294967296.0)").as("arr"),
          struct((0 until 20).map(i =>
            if (i % 2 == 0) mod(seed, 200 + i, 1000000L).as(s"s$i")
            else unit(seed, 200 + i).as(s"s$i")): _*).as("doc"))
      case "extension" =>
        base.select(id,
          (mod(seed, 3, 1000000000000L).cast(DecimalType(20, 0)) *
            lit(new java.math.BigDecimal("0.0001"))).cast(DecimalType(20, 4)).as("dec"),
          unhex(concat(lpad(hex(h(seed, 4)), 16, "0"), lpad(hex(h(seed, 5)), 16, "0")))
            .as("bin", graft.schema.MSchema.binaryField("bin", 10).metadata))
    }
  }

  /** TPC-H-like `customer` rows for keys [from, until). */
  def customer(spark: SparkSession, from: Long, until: Long, seed: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast(StringType), 9, "0")).as("c_name"),
      mod(seed, 21, 25L).as("c_nationkey"),
      concat(lpad(mod(seed, 22, 90L).plus(10).cast(StringType), 2, "0"), lit("-"),
        lpad(mod(seed, 23, 10000000L).cast(StringType), 7, "0")).as("c_phone"),
      round(unit(seed, 24) * 11000 - 1000, 2).as("c_acctbal"),
      pick(seed, 25, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment"),
      concat_ws(" ", hex(h(seed, 26)), hex(h(seed, 27)), lit("carefully final deposits"))
        .as("c_comment"))

  /** TPC-H-like `orders` rows for keys [from, until); custkeys fall in
    * [1, customers]. */
  def orders(spark: SparkSession, from: Long, until: Long, customers: Long, seed: Long,
             parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(
      col("id").as("o_orderkey"),
      (mod(seed, 31, customers) + 1).as("o_custkey"),
      pick(seed, 32, "F", "O", "P").as("o_orderstatus"),
      round(unit(seed, 33) * 500000 + 900, 2).as("o_totalprice"),
      date_format(date_add(lit("1992-01-01").cast(DateType), mod(seed, 34, 2400L).cast(IntegerType)),
        "yyyy-MM-dd").as("o_orderdate"),
      pick(seed, 35, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((mod(seed, 36, 1000L) + 1).cast(StringType), 9, "0"))
        .as("o_clerk"),
      lit(0L).as("o_shippriority"),
      concat_ws(" ", hex(h(seed, 37)), lit("furiously regular requests")).as("o_comment"))

  val EventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("user_id", LongType)))
  private val EventTypes = Array("view", "click", "cart", "purchase", "search")

  /** One batch of stream events: each batch covers its own minute of
    * event time, so no event is ever behind the watermark. */
  def events(seed: Long, batch: Long, n: Int): Seq[Row] = {
    val r = new java.util.Random(seed * 1000003L + batch)
    val minute = 1700000000000L + batch * 60000L
    (0 until n).map(_ => Row(new java.sql.Timestamp(minute + r.nextInt(60000)),
      EventTypes(r.nextInt(EventTypes.length)), r.nextInt(100000) / 100.0,
      r.nextInt(5000).toLong))
  }
}
