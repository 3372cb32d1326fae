package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is Spark-internal; this is the benchmark's only
  * use of it, so that an operation's events are all delivered before its
  * counters are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
