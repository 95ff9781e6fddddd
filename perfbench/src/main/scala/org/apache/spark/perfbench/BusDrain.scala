package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so task metrics of a finished action are attributed before
  * the benchmark reads its counters. The bus is package-private to Spark;
  * this object is the one place the benchmark reaches into it, and it only
  * synchronizes — all metrics are read through the public listener API. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
