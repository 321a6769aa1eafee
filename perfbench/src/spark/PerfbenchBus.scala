package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until every event already posted to the session's listener bus
  * has been delivered, so listener-side counters are complete before
  * they are read. Lives in Spark's package because the bus handle is
  * package-private. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
