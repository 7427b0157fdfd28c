package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The graftdocs decode counters ([[ScanMetrics]]) of an executed
  * query, summed over every `BatchScanExec` of its final plan. Read the
  * Dataset the action ran on: `df.count()` and `df.head` execute a
  * derived plan, `df.collect()` runs `df`'s own. */
object ScanCountsOf extends AdaptiveSparkPlanHelper {
  case class Counts(emitted: Long, skipped: Long)

  def apply(df: DataFrame): Counts = {
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s.metrics }
    def sum(name: String): Long = scans.flatMap(_.get(name)).map(_.value).sum
    Counts(sum(ScanMetrics.Emitted), sum(ScanMetrics.Skipped))
  }
}
