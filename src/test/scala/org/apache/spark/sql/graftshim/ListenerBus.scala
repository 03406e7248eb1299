package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test bridge to the `private[spark]` listener bus: block until every
  * event posted so far — query-execution callbacks included — has been
  * delivered to its listeners. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
