package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus private to `org.apache.spark`. The traced
  * run must wait until every queued event has reached the benchmark's
  * listeners before it reads their totals.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
