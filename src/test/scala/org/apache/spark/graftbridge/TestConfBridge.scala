package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only: `SparkContext.conf` is private[spark], but
  * [[graft.SqlSurfaceSpec]] must pin the STATIC `spark.sql.extensions`
  * conf on the shared context to prove a new session picks the
  * extensions up the way a `spark-submit --conf` deployment would.
  * (`getConf` returns a clone, so it can't be used to mutate.) */
object TestConfBridge {
  def set(sc: SparkContext, key: String, value: String): Unit = {
    sc.conf.set(key, value); ()
  }
  def remove(sc: SparkContext, key: String): Unit = {
    sc.conf.remove(key); ()
  }
  /** Block until every event posted so far reached its listeners
    * (`listenerBus` is private[spark]) — how a test reads a listener's
    * counts without sleeping. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
