package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** Access to two Spark-internal calls the benchmark needs at its edges. */
object Bridge {
  /** Deliver every queued listener event before the listeners are read. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
