package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The parquet file scans the queries of a block ran: every
  * `FileSourceScanExec` reached from each successful query's physical
  * plan — through adaptive query stages and into cached relations —
  * counted once per plan node, so a cached scan that later queries
  * re-read from the cache counts the one time it ran. */
object PlanScans {
  /** One scan: the action that ran it, its root paths, rows it output. */
  final case class Scan(action: String, paths: Seq[String], rows: Long)

  def during[A](spark: SparkSession)(body: => A): (A, Seq[Scan]) = {
    val sc = spark.sparkContext
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer.empty[Scan]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
                             durationNs: Long): Unit = out.synchronized {
        scans(qe.executedPlan).filter(seen.add).foreach { s =>
          out += Scan(action, s.relation.location.rootPaths.map(_.toUri.getPath),
            s.metrics("numOutputRows").value)
        }
      }
      override def onFailure(action: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    org.apache.spark.graftbridge.TestConfBridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      val a = body
      org.apache.spark.graftbridge.TestConfBridge.drainListenerBus(sc)
      (a, out.synchronized(out.toSeq))
    } finally spark.listenerManager.unregister(listener)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec    => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}
