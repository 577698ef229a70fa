package graft
import org.apache.spark.sql.SparkSession

/** The local session every `graft.*` main runs on. */
object GraftSession {
  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, UTC, and no UI. Callers add their own confs, then
    * `getOrCreate()`. */
  def local(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // pandas `errors='coerce'` / lenient-cast parity (SURVEY.md §2.7 C7):
      // invalid casts yield NULL, not errors. Oracle SQL uses TRY_CAST
      // to express the same semantics on the DuckDB side.
      .config("spark.sql.ansi.enabled", "false")
      // cached plans keep AQE partition coalescing (default false
      // keeps a cache's partitioning stable for positional reuse,
      // which nothing here relies on): without it every persisted
      // batch-sized frame materializes at full shuffle-partition
      // count and every consumer pays a tiny-task storm; with it the
      // cache takes AQE's advisory-size output at any scale
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
  }
}
