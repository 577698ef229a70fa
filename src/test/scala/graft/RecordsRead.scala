package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Input records the tasks of a block read, summed over their task-end
  * events. The listener bus is drained before the listener registers
  * and again after the block, so the count holds exactly the block's
  * tasks: reading it while the bus lags would undercount and let an
  * upper-bound pin pass falsely. */
object RecordsRead {
  def during(spark: SparkSession)(body: => Any): Long = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          n.addAndGet(t.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }
}
