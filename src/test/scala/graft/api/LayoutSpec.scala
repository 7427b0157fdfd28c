package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Bucketed co-located joins: the write-once/join-many layout answer for
  * repeated fact⋈fact equi-joins at scale. The assertion that matters:
  * with both sides bucketed on the join key, the join plan carries NO
  * shuffle Exchange — the scans satisfy the required distribution. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("bucketed orders ⋈ lineitem joins and aggregates exchange-free") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.writeBucketed(orders, "graft_bkt_orders", "o_orderkey", 4)
    Layout.writeBucketed(lineitem, "graft_bkt_lineitem", "l_orderkey", 4)
    try {
      val o = Layout.bucketedTable(spark, "graft_bkt_orders")
      val l = Layout.bucketedTable(spark, "graft_bkt_lineitem")
      // disable broadcast so the exchange-free claim is about bucketing,
      // not about one side fitting in memory
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = o.join(l, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderkey")
          .agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        assert(Layout.isExchangeFree(plan), plan.toString)
        // and the result is the same as the plain (shuffling) join
        val expect = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderkey")
          .agg(count(lit(1)).as("n"), sum($"l_quantity").as("q"))
          .orderBy("o_orderkey").collect().toSeq
        assert(joined.orderBy("o_orderkey").collect().toSeq == expect)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    }
  }

  test("the same join WITHOUT bucketing shuffles both sides (the baseline)") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      assert(!Layout.isExchangeFree(plan), plan.toString)
    }
  }

  test("zorderValue: exact Morton interleave, clamped domain") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (-7L, 1L << 40))
      .toDF("x", "y")
    val got = df.select(Layout.zorderValue(Seq($"x", $"y"), bits = 4))
      .as[Long].collect().toSeq
    // bit i of x → position 2i, bit i of y → 2i+1; clamp to [0, 15]
    def morton(x: Long, y: Long): Long =
      (0 until 4).map(i => (((x >> i) & 1) << (2 * i)) |
        (((y >> i) & 1) << (2 * i + 1))).reduce(_ | _)
    assert(got == Seq(morton(0, 0), morton(1, 0), morton(0, 1),
      morton(3, 5), morton(0, 15)))
  }

  test("z-ordered layout skips most row groups on 2-D range filters") {
    val n = 1 << 14
    val df = (0 until n).map { i =>
      (i.toLong, (i % 128).toLong, ((i / 128) % 128).toLong) }
      .toDF("id", "x", "y")
    val base = graft.TestDirs.temp("zorder").toString
    // baseline: the same rows hash-sprayed (every file spans the full
    // x/y domain, so min/max stats prune nothing)
    df.repartition(8, $"id").write.mode("overwrite")
      .parquet(s"$base/plain")
    Layout.writeZOrdered(df, s"$base/z", Seq("x", "y"), bits = 7, files = 8)
    // force small row groups so stats pruning has something to skip
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .where($"x".between(10, 20) && $"y".between(10, 20))
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collectLeaves().map(_.metrics("numOutputRows").value).sum
    }
    val (zRows, plainRows) = (scannedRows(s"$base/z"), scannedRows(s"$base/plain"))
    // identical answers...
    assert(spark.read.parquet(s"$base/z")
      .where($"x".between(10, 20) && $"y".between(10, 20))
      .select("id").as[Long].collect().sorted.toSeq ==
      spark.read.parquet(s"$base/plain")
        .where($"x".between(10, 20) && $"y".between(10, 20))
        .select("id").as[Long].collect().sorted.toSeq)
    // ...but the z layout surfaces far fewer rows from the scan
    assert(zRows * 2 <= plainRows,
      s"expected z-order to at least halve scanned rows: z=$zRows plain=$plainRows")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
