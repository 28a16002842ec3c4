package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.sources.Manifest

/** File counts for pruning assertions, independent of which scan node
  * reads a table: a scan's planned files come from its `numFiles`
  * metric, a table's total from its manifest. A selected scan that
  * reports no `numFiles` fails the caller, so a pruning check can never
  * pass by counting nothing. */
object ScanFiles extends AdaptiveSparkPlanHelper {

  /** Runs `df`'s plan once more, then returns the `numFiles` of each
    * table scan that `which` selects (subqueries and adaptive stages
    * included). A fresh execution: re-running an executed frame resets
    * its metrics, and driver metrics are not sent twice. */
  def perScan(df: DataFrame,
              which: SparkPlan => Boolean = _ => true): Seq[Long] = {
    val run = PlanBridge.ofRows(df.sparkSession, PlanBridge.logicalPlan(df))
    run.collect()
    val plan = run.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) {
      case s @ (_: DataSourceScanExec | _: DataSourceV2ScanExecBase)
          if which(s) => s
    }
    assert(scans.nonEmpty, s"no table scan selected in:\n$plan")
    scans.map { s =>
      s.metrics.get("numFiles").map(_.value).getOrElse(
        throw new AssertionError(
          s"scan reports no numFiles metric: ${s.simpleString(200)}"))
    }
  }

  /** Files planned by the selected scans of `df`, summed. */
  def planned(df: DataFrame,
              which: SparkPlan => Boolean = _ => true): Long =
    perScan(df, which).sum

  /** Data files of the latest snapshot of the table at `root`. */
  def live(spark: SparkSession, root: String): Int =
    Manifest.snapshot(spark, root,
      Manifest.latestVersion(spark, root).get).files.size
}
