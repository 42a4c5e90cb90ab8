package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `Dataset.ofRows` (private[sql] in Spark 4) so library code
  * can materialize a DataFrame from a custom logical plan node — the
  * standard extension-library pattern (see [[ColumnBridge]]). */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's effective Hadoop conf (`SessionState` is private[sql]):
    * the Spark context's, plus the session's own SQL and Hadoop settings. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
}
