package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the `private[spark]` listener bus: a
  * `QueryExecutionListener` is called on it asynchronously, so a test that
  * reads what a listener saw drains the bus first.
  */
object ListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
