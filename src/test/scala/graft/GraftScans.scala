package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.sources

import graft.sources.GraftScanBuilder

/** Reads a query's bucket pruning off the plan Spark executed: the
  * file scans over a [[GraftFileIndex]] and the bucket directories
  * whose files each of them listed. */
object GraftScans extends AdaptiveSparkPlanHelper {

  /** The graft file scans of an executed plan, AQE stages included. */
  def graftScans(plan: SparkPlan): Seq[(FileSourceScanExec, GraftFileIndex)] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[GraftFileIndex] =>
        (s, s.relation.location.asInstanceOf[GraftFileIndex])
    }

  /** Runs `df` and returns (buckets read, table buckets) over its
    * graft scans: a bucket counts as read when the executed scan's
    * file listing holds a file of its directory. */
  def keptBuckets(df: DataFrame): (Int, Int) = {
    df.collect(): Unit
    val scans = graftScans(df.queryExecution.executedPlan)
    require(scans.nonEmpty,
      s"no graft file scan in:\n${df.queryExecution.executedPlan}")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    (scans.map { case (s, idx) =>
      val bucketDirs =
        idx.rootPaths.map(p => p.getFileSystem(conf).makeQualified(p)).toSet
      s.selectedPartitions.toPartitionArray.map(_.toPath.getParent)
        .filter(bucketDirs).distinct.length
    }.sum, scans.head._2.manifest.buckets.size)
  }

  /** [[keptBuckets]] of `format("graft").load(dir)` under `filters`. */
  def keptBuckets(spark: SparkSession, dir: String,
                  filters: sources.Filter*): (Int, Int) =
    keptBuckets(filters.foldLeft(spark.read.format("graft").load(dir))(
      (d, f) => d.where(GraftScanBuilder.toColumn(f).get)))
}
