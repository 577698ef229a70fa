package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the
    // optional third arg is a dev-loop filter (the driver passes two)
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(',').map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        // NonFatal only: an OOM or a dying JVM must stop the dump, not
        // be logged and carried into every later query
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal caches are query-scoped (see CacheScope)
      graft.util.CacheScope.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
