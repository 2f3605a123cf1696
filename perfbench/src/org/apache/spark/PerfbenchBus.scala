package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The listener bus's drain is package-private; the traced run needs it
  * so per-layer counters are complete before they are read. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
