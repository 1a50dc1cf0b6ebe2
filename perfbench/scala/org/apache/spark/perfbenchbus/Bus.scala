package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus is Spark-internal; this is the one place the benchmark
  * reaches it, to wait until its listeners have seen every event. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
