package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev helper: profile a single SparkEntry query — per-JOB wall time,
  * stage/task counts, shuffle bytes — so multi-statement scenario
  * queries (MV refreshes, index ingests) show WHERE the seconds go,
  * not just that they go. Guide §1: decide whether time is compute,
  * shuffle, or scheduling before touching anything.
  * Usage: runMain graft.ProfileOne <query_name> [sfDir]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    final case class JobRow(id: Int, start: Long, var end: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, var taskTime: Long = 0L,
        var shufRead: Long = 0L, var shufWrite: Long = 0L,
        var input: Long = 0L, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRow(e.jobId, e.time, desc = d)
        jobs.synchronized { jobs(e.jobId) = r }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val jid = stageToJob.synchronized { stageToJob.getOrElse(si.stageId, -1) }
        jobs.synchronized {
          jobs.get(jid).foreach { r =>
            r.stages += 1
            r.tasks += si.numTasks
            r.taskTime += si.taskMetrics.executorRunTime
            r.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            r.input += si.taskMetrics.inputMetrics.bytesRead
            if (si.taskMetrics.executorRunTime > 300)
              r.desc = (r.desc + " | " + si.name.take(90)).take(200)
          }
        }
      }
    }

    // warm pass (uninstrumented), then the profiled pass
    SparkEntry.queries(name)(spark, sfDir).count()
    graft.util.CacheScope.releaseAll()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).count()
    graft.util.CacheScope.releaseAll()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graftbridge.ListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)

    def mb(b: Long) = f"${b / 1024.0 / 1024.0}%8.1f"
    println(f"[profile] $name warm pass: $wall%.2f s ($n rows), ${jobs.size} jobs")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"stg"}%3s ${"tasks"}%5s " +
      f"${"taskT_ms"}%9s ${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s  desc")
    var (sumWall, sumTask) = (0L, 0L)
    jobs.values.foreach { r =>
      val w = r.end - r.start
      sumWall += w; sumTask += r.taskTime
      println(f"${r.id}%4d ${w}%8d ${r.stages}%3d ${r.tasks}%5d " +
        f"${r.taskTime}%9d ${mb(r.input)} ${mb(r.shufRead)} ${mb(r.shufWrite)}  ${r.desc.take(60)}")
    }
    println(f"[profile] sum job wall: ${sumWall / 1e3}%.2f s, " +
      f"sum task time: ${sumTask / 1e3}%.2f s, " +
      f"gaps (driver/planning): ${wall - sumWall / 1e3}%.2f s")
    spark.stop()
  }
}
