package graft

/** Dev helper: print ONE query's `.explain("formatted")` plan without
  * the BenchOne timed passes — the artifact generator for
  * `plans/<round>/<query>_{before,after}.txt`. Scenario queries still
  * run their setup statements while the returned frame is built;
  * the final frame itself is only planned, never executed.
  * Usage: runMain graft.ExplainOne <query_name> [sfDir]
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"== explain $name ==")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    graft.util.CacheScope.releaseAll()
    spark.stop()
  }
}
