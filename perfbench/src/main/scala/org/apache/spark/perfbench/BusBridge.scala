package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark reads its counters only once every event has been seen. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
