package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge from Catalyst [[Expression]]s to the public [[Column]] API.
  *
  * Spark 4 moved Column onto ColumnNode (Connect refactor); the classic
  * Expression→Column lift lives behind `private[sql]`. This object sits
  * in an `org.apache.spark.sql` subpackage solely to re-export that
  * lift for graft's custom expressions (uuid_str, envelope_json, …).
  * No Spark internals are modified.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame, and the reverse lift — the
    * two ends a custom logical operator (graft.plans.AsOfJoinPlan)
    * needs: both live behind `private[sql]` on the classic Dataset. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A fresh Hadoop conf carrying the session's settings, as Spark's own
    * file writers build theirs: `SessionState` is `private[sql]`. */
  def newHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Starts a streaming query that appends `df` to `sink`, a DSv2 table
    * instance: the `private[sql]` path `foreachBatch` takes, so the sink
    * object reaches the query as is, with no provider lookup. */
  def startStream(df: org.apache.spark.sql.DataFrame,
      sink: org.apache.spark.sql.connector.catalog.Table, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sessionState.streamingQueryManager.startQuery(
      userSpecifiedName = None, userSpecifiedCheckpointLocation = Some(checkpoint),
      df = ds, extraOptions = Map.empty, sink = sink,
      outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
      useTempCheckpointLocation = false, trigger = trigger)
  }
}
