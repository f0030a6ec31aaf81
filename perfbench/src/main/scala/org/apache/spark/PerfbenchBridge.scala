package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one private Spark hook the harness needs: waiting for the
  * listener bus, so counters are complete before they are read.
  */
object PerfbenchBridge {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
