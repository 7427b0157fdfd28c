package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Storage-partitioned joins over the graftdocs source: two tables
  * hive-partitioned on the same column report KeyGroupedPartitioning,
  * and an equi-join on that column runs EXCHANGE-FREE — the directory
  * structure replaces the shuffle (the doc-source twin of api/Layout's
  * catalog bucketing). At 100 TB this deletes the fact⋈fact shuffle for
  * co-partitioned corpora. */
class StoragePartitionJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    graft.TestDirs.temp("graft_spj").toString

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** collect that sees through QueryStageExec leaves (AQE wraps subtrees
    * in stages whose content hangs off .plan, not .children). */
  private def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    val here = p.collect(pf)
    val stages = p.collect {
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => qs }
    here ++ stages.flatMap(qs => deepCollect(qs.plan)(pf))
  }

  private def hasShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    deepCollect(p) {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
    }.nonEmpty

  /** orders partitioned by o_orderstatus, plus a per-status summary table
    * partitioned the same way. */
  private def writeBoth(): (String, String) = {
    val factPath = tmp(); val dimPath = tmp()
    orders.write.format("graftdocs").option("partitionBy", "o_orderstatus")
      .mode("overwrite").save(factPath)
    orders.groupBy("o_orderstatus")
      .agg(avg("o_totalprice").as("avg_price"))
      .write.format("graftdocs").option("partitionBy", "o_orderstatus")
      .mode("overwrite").save(dimPath)
    (factPath, dimPath)
  }

  test("co-partitioned graftdocs tables join exchange-free") {
    val (factPath, dimPath) = writeBoth()
    val factSchema = orders.schema
    val dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "avg_price double, o_orderstatus string")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.format("graftdocs").schema(factSchema).load(factPath)
      val dim = spark.read.format("graftdocs").schema(dimSchema).load(dimPath)
        .withColumnRenamed("o_orderstatus", "st")
      val joined = fact.join(dim, $"o_orderstatus" === $"st")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), max($"avg_price").as("ap"))
      val plan = finalPlan(joined)
      // the JOIN subtree must be exchange-free (the groupBy above it may
      // legitimately shuffle on its own key)
      val joinNode = deepCollect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.headOption
      assert(joinNode.isDefined, plan.toString)
      assert(!hasShuffle(joinNode.get), plan.toString)
      // and the answer equals the plain parquet join
      val expect = orders.join(
          orders.groupBy("o_orderstatus").agg(avg("o_totalprice").as("avg_price"))
            .withColumnRenamed("o_orderstatus", "st"),
          $"o_orderstatus" === $"st")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), max($"avg_price").as("ap"))
        .orderBy("o_orderstatus").collect().toSeq
      assert(joined.orderBy("o_orderstatus").collect().toSeq == expect)
    }
  }

  test("constant-key ordering report drops the join's per-partition sorts") {
    val (factPath, dimPath) = writeBoth()
    val dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "avg_price double, o_orderstatus string")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.format("graftdocs").schema(orders.schema).load(factPath)
      val dim = spark.read.format("graftdocs").schema(dimSchema).load(dimPath)
        .withColumnRenamed("o_orderstatus", "st")
      val joined = fact.select("o_orderkey", "o_orderstatus")
        .join(dim, $"o_orderstatus" === $"st")
      val plan = finalPlan(joined)
      val joinNode = deepCollect(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.headOption
      // a KeyGrouped partition is constant in the key, so the reported
      // ordering satisfies the SMJ requirement and the local sorts vanish
      assert(joinNode.isDefined, plan.toString)
      val sorts = deepCollect(joinNode.get) {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty, plan.toString)
      assert(joined.count() == orders.count())
    }
  }

  test("the same join on a FLAT layout shuffles (the baseline)") {
    val factPath = tmp(); val dimPath = tmp()
    orders.write.format("graftdocs").mode("overwrite").save(factPath)
    orders.groupBy("o_orderstatus")
      .agg(avg("o_totalprice").as("avg_price"))
      .write.format("graftdocs").mode("overwrite").save(dimPath)
    val dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderstatus string, avg_price double")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.format("graftdocs").schema(orders.schema).load(factPath)
      val dim = spark.read.format("graftdocs").schema(dimSchema).load(dimPath)
        .withColumnRenamed("o_orderstatus", "st")
      val joined = fact.join(dim, $"o_orderstatus" === $"st")
      val plan = finalPlan(joined)
      assert(hasShuffle(plan), plan.toString)
    }
  }

  test("partitionKey rows group byte-range splits of one partition value") {
    val (factPath, _) = writeBoth()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val fact = spark.read.format("graftdocs").schema(orders.schema).load(factPath)
      val scan = fact.queryExecution.executedPlan.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      val parts = scan.partitions.flatten.map(_.asInstanceOf[GraftFilePartition])
      assert(parts.forall(_.keyVals != null), "every partition carries a key")
      val distinctKeys = parts.map(_.partitionKey().getUTF8String(0).toString).distinct
      assert(distinctKeys.sorted ==
        orders.select("o_orderstatus").distinct().as[String].collect().toSeq.sorted)
    }
  }

  test("spj=false and mixed layouts report unknown partitioning") {
    val (factPath, _) = writeBoth()
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.format("graftdocs").schema(orders.schema)
        .option("spj", "false").load(factPath)
      val dim = orders.groupBy("o_orderstatus")
        .agg(avg("o_totalprice").as("avg_price"))
        .withColumnRenamed("o_orderstatus", "st")
      // joining against a non-graftdocs side must shuffle the fact side —
      // and with spj=false the scan must not even claim keyed partitioning
      val joined = fact.join(dim, $"o_orderstatus" === $"st")
      assert(hasShuffle(finalPlan(joined)))
    }
  }
}
