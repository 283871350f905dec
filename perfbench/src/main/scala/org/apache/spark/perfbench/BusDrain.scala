package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event, so
  * a listener's state is complete when read. The bus is Spark-internal;
  * this object lives under `org.apache.spark` to reach it. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
