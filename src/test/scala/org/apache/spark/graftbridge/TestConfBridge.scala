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
}
