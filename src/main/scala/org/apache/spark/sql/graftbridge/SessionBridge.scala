package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Minimal `private[sql]` bridge: rebuild a DataFrame from a logical plan
 * under ANOTHER SparkSession sharing the same SparkContext
 * (`Dataset.ofRows` is private[sql], hence this package), and set a
 * checkpoint's statistics. Used by graft.ops.Fixpoint to run loops in an
 * ISOLATED session whose conf toggles (constraint propagation off) never
 * affect queries planning concurrently on the caller's session.
 *
 * Only SELF-CONTAINED plans may cross sessions — in practice the
 * LogicalRDD leaves that `localCheckpoint` produces (they carry their
 * rows and output attributes and resolve identically under any session
 * of the same context). Callers checkpoint before lifting.
 */
object SessionBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A checkpoint whose statistics are its KNOWN row count, in place of
   * the size estimate of the plan that made it (join products: petabytes
   * after a few fixpoint rounds, so every join over it plans a shuffle
   * that AQE runs before demoting it to a broadcast). */
  def withRowCount(df: org.apache.spark.sql.DataFrame, rows: Long): org.apache.spark.sql.DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(rows))
        ofRows(spark, r.copy()(spark, Some(stats), None))
      case _ => df
    }
}
