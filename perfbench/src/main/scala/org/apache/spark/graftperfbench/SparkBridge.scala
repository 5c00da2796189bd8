package org.apache.spark.graftperfbench

import org.apache.spark.sql.SparkSession

/** The one package-private Spark hook the benchmark needs. */
object SparkBridge {
  /** Block until every scheduler event posted so far reached the listeners. */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
