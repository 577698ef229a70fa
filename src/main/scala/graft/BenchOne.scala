package graft

/** Dev helper: time a single SparkEntry query (two passes — cold,
  * then warm) without running the whole bench suite.
  * Usage: runMain graft.BenchOne <query_name> [sfDir]
  * SPARK_GRAFT_EXPLAIN=1 additionally prints the formatted physical
  * plan — the plan-audit loop (shuffle count, pushed filters,
  * codegen spans) without leaving the dev cycle.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val b0 = GraftSession.local()
    // dev A/B knob: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" to test a config
    // hypothesis on one query without touching the bench contract
    val b = sys.env.get("SPARK_GRAFT_EXTRA_CONFS").fold(b0) { s =>
      s.split(';').filter(_.contains('=')).foldLeft(b0) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      // release per pass like graft.Bench — pass 2 must build its own
      // caches or it measures a cache-warm run the driver never sees
      graft.util.CacheScope.releaseAll()
      println(f"[benchone] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
