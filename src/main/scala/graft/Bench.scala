package graft

import scala.collection.immutable.ListMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Driver-run benchmark: one JSON line with per-query seconds.
  *
  * The stdout line carries the COMPLETE per-query dict (seconds rounded
  * to 3 decimals) — the driver parses it into its PERF per_query and
  * scaling comparisons. The same dict (plus per-query errors) is also
  * written to BENCH_DETAIL.json in the working directory for redundancy.
  * The line is printed AFTER spark.stop() so no straggler executor log
  * lines land behind it in the output tail.
  * A warmup action absorbs session/codegen startup so per-query numbers
  * measure the queries, not JVM warmup.
  */
object Bench {
  private implicit val formats: Formats = DefaultFormats.withBigDecimal
  /** Seconds rounded to 3 decimals; a JSON number such as `1.200`. */
  private def sec(v: Double): BigDecimal = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warmup: touch the fact table + one full query so codegen/IO pools spin up
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    try SparkEntry.queries.head._2(spark, sfDir).count() catch { case _: Throwable => }
    // streaming warmup: one throwaway stateful micro-batch spins up the
    // state-store provider, streaming codegen, and checkpoint IO.
    // Without it the FIRST streaming gates in the driver's cold
    // single-shot bench absorb 2-3 s of engine init and read as
    // phantom regressions (8 rows needed manual warm adjudication in
    // round 8, 13 in round 7 — all noise).
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.col
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Long]
      val q = in.toDF().groupBy(col("value") % 10).count()
        .writeStream.format("memory")
        .queryName(s"bench_warmup_${System.nanoTime()}")
        .outputMode("complete").start()
      in.addData(1L to 100L: _*)
      q.processAllAvailable()
      q.stop()
    } catch { case _: Throwable => () }
    // min of N runs per query (default 2): single-run numbers at this
    // scale carry multi-second GC/scheduling outliers; the min is the
    // stable throughput figure
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // a query that throws must NOT bench as a near-instant success — it
    // is recorded under "errors" and fails the whole run (nonzero exit)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count(), NOT DataFrame.count(): an Aggregate(count) on
        // top lets Catalyst prune the query's own projections, so any
        // map-only metric query (text analysis, scoring) was timed as a
        // bare row-count over the scan — q_gopher_rep's pre-fix
        // quadratic projection benched at 0.1 s while costing minutes
        // in Verify. toRdd materializes the final UnsafeRows: every
        // output column is computed, nothing ships to the driver.
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case t: Throwable =>
          errors.getOrElseUpdate(name,
            (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(160))
        }
        (System.nanoTime() - t0) / 1e9
      }
      Session.reset(spark)
      name -> times.min
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // full detail to a file (judge-readable), compact subset to stdout
    val queries = ListMap(results.map { case (k, v) => k -> sec(v) }: _*)
    val head = ListMap[String, Any]("metric" -> "total", "value" -> sec(total), "unit" -> "sec",
      "queries" -> queries)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (Serialization.write(head ++ ListMap("errors" -> errors, "sf" -> sfDir)) + "\n")
        .getBytes("UTF-8"))
    spark.stop()
    // the COMPLETE per-query dict on stdout (one ~8 KB line): the
    // driver parses this line into PERF per_query/scaling — a previous
    // 1300-char "slowest subset" budget (from a stale assumption about
    // the driver's tail capture) left `parsed: null` in every round's
    // BENCH file. BENCH_DETAIL.json stays for redundancy.
    println(Serialization.write(head ++ ListMap("n_queries" -> results.size,
      "n_errors" -> errors.size, "detail" -> "BENCH_DETAIL.json", "sf" -> sfDir)))
    if (errors.nonEmpty) {
      System.err.println(s"BENCH FAILURES (${errors.size}): " +
        errors.map { case (k, m) => s"$k -> $m" }.mkString("; "))
      sys.exit(1)
    }
  }
}
