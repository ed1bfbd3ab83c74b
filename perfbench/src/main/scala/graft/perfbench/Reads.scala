package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sources.{GraftFileIndex, GraftTable}

/** The reads a dashboard sends to silver, through the graft data
  * source (`GraftTable.scan`).
  */
object Reads extends AdaptiveSparkPlanHelper {
  /** Primary-key lookup; returns the number of rows found. */
  def point(spark: SparkSession, root: String, spec: Spec, pk: Seq[Any], rec: Recorder,
      traced: Boolean): Long = {
    val cond = spec.pkNames.zip(pk).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    run(GraftTable(spark, root).scan.filter(cond), rec, traced).length.toLong
  }

  /** Full-table aggregate over `orders`; returns the total row count it saw. */
  def aggregate(spark: SparkSession, root: String, rec: Recorder, traced: Boolean): Long = {
    run(GraftTable(spark, root).scan.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total")), rec, traced)
      .map(_.getAs[Long]("n")).sum
  }

  private def run(df: DataFrame, rec: Recorder, traced: Boolean) = {
    val rows = df.collect()
    if (traced && rec.measuring) collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.foreach { s =>
      rec.filesScanned += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      s.relation.location match {
        case g: GraftFileIndex => rec.liveFiles += g.currentManifest.allFiles
        case _ =>
      }
    }
    rows
  }
}
