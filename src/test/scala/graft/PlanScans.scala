package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical operators the queries of a block ran: every node
  * reached from each successful query's physical plan — through
  * adaptive query stages and into cached relations — counted once per
  * plan node, so a cached plan that later queries re-read from the
  * cache counts the one time it ran. */
object PlanScans {
  /** One scan: the action that ran it, its root paths, rows it output. */
  final case class Scan(action: String, paths: Seq[String], rows: Long)

  /** The parquet file scans (`FileSourceScanExec`) the block ran. */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Scan]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Scan]
    val a = listening(spark) {
      case (action, s: FileSourceScanExec) => out.synchronized {
        out += Scan(action, s.relation.location.rootPaths.map(_.toUri.getPath),
          s.metrics("numOutputRows").value)
      }
      case _ => ()
    }(body)
    (a, out.synchronized(out.toSeq))
  }

  /** Every operator the block ran. */
  def operatorsDuring[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val a = listening(spark)(p => out.synchronized(out += p._2))(body)
    (a, out.synchronized(out.toSeq))
  }

  /** Runs `body` with `seen` called on each new operator of each
    * successful query, as soon as the query finished. */
  private def listening[A](spark: SparkSession)(
      seen: ((String, SparkPlan)) => Unit)(body: => A): A = {
    val sc = spark.sparkContext
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             durationNs: Long): Unit = visited.synchronized {
        nodes(qe.executedPlan).filter(visited.add).foreach(p => seen((action, p)))
      }
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    org.apache.spark.sql.graftbridge.ListenerBridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      val a = body
      org.apache.spark.sql.graftbridge.ListenerBridge.drainListenerBus(sc)
      a
    } finally spark.listenerManager.unregister(listener)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })
}
