package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One run of one workload in a fresh JVM:
  * {{{
  *   perfbench.Main --workload <migrate|upsert|dedup> --seed <n>
  *     --seconds <s> --trace <0|1> --tmp <dir> --out <dir>
  * }}}
  * Generates the inputs, warms up with half an uncounted round, runs
  * exactly one timed round, checks its outputs and prints one JSON line:
  * the end-to-end metrics untraced, the per-layer metrics traced. Every
  * run thus measures the same fixed work; `--seconds` is accepted for the
  * command's form, and one round outlasts it on every workload. A failed
  * check exits 3 without printing a result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, tmp: String, out: String)

  def parse(args: Array[String]): Args = {
    def opt(k: String): Option[String] = args.indexOf(k) match {
      case -1 => None
      case i if i + 1 < args.length => Some(args(i + 1))
      case _ => throw new IllegalArgumentException(s"$k needs a value")
    }
    def need(k: String) = opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--tmp"), need("--out"))
  }

  /** Cores the session runs on: fixed at 4, fewer only on a smaller machine. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Int = {
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = session(a.tmp)
    try {
      val sc = spark.sparkContext
      val ledger = new Ledger
      sc.addSparkListener(ledger)
      val trace = new Trace(sc, a.trace)
      val wl = Workload(a.workload,
        Ctx(spark, a.tmp, a.seed, Sizes.full, trace))

      def phase(what: String, t0: Long): Unit =
        System.err.println(f"[perfbench] $what: ${(System.currentTimeMillis() - t0) / 1e3}%.1f s")
      val g0 = System.currentTimeMillis()
      wl.generate()
      val genMs = System.currentTimeMillis() - g0
      phase("input generation", g0)

      // warm-up: half a round (at least one unit), not counted
      val w0 = System.currentTimeMillis()
      wl.round(0, new Units(sc, trace, counted = false), math.max(1, wl.unitsPerRound / 2))
      phase("warm-up", w0)
      val units = new Units(sc, trace, counted = true)
      wl.round(1, units, wl.unitsPerRound)
      phase("timed round", units.firstStartMs)
      org.apache.spark.perfbench.BusBridge.drain(sc)
      require(units.durationsNs.size == wl.unitsPerRound,
        s"${units.durationsNs.size} units in a round of ${wl.unitsPerRound}")

      val v0 = System.currentTimeMillis()
      val failures = wl.verify()
      phase("checks", v0)
      if (failures.nonEmpty) {
        failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
        return 3
      }
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val report = new Report(ledger, trace, units, wl,
        setupS = (units.firstStartMs - jvmStart - genMs) / 1000.0)
      val e2e = report.endToEnd()
      if (a.trace) {
        Files.createDirectories(Paths.get(a.out))
        Files.write(Paths.get(a.out, s"trace-${a.workload}-seed${a.seed}.json"),
          report.traceJson(a.workload, a.seed, e2e).getBytes(StandardCharsets.UTF_8))
      }
      val metrics = if (a.trace) report.perLayer() else e2e
      println(Json.result(units.durationsNs.size, 0, metrics))
      0
    } finally spark.stop()
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(m: Seq[Metric]): String =
    obj(m.map(x => x.name -> obj(Seq("value" -> num(x.value), "unit" -> str(x.unit)))))

  def result(attempted: Int, failed: Int, m: Seq[Metric]): String =
    obj(Seq("correct" -> "true", "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics(m)))
}

final case class Metric(name: String, value: Double, unit: String)

/** Per-span totals; `self` intervals exclude child spans, and the driver
  * time is the part of them during which none of the span's jobs ran. */
final case class SpanStats(ms: Double, selfMs: Double, driverMs: Double, c: Counters)

/** Turns the counters, spans and unit times of one run, whose timed
  * phase is one round, into metrics. */
final class Report(ledger: Ledger, trace: Trace, units: Units, wl: Workload,
                   setupS: Double) {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def endToEnd(): Seq[Metric] = {
    val t = ledger.total()
    val timedS = units.durationsNs.sum / 1e9
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("rows_per_s", units.rows / timedS, "rows/s"),
      Metric("batch_p50_ms", median(units.durationsNs.toSeq.map(_ / 1e6)), "ms"),
      Metric("cpu_s", units.cpuNs / 1e9, "s"),
      Metric("spark_jobs", t.jobs.toDouble, "count"),
      Metric("spark_tasks", t.tasks.toDouble, "count"),
      Metric("shuffle_bytes", t.shuffleBytes.toDouble, "bytes"),
      Metric("bytes_written", t.bytesWritten.toDouble, "bytes"),
      Metric("bytes_stored", wl.bytesStored().toDouble, "bytes"),
      Metric("peak_rss_mb", vmHwmMb(), "MB"))
  }

  /** Union length of intervals, in their unit. */
  private def measure(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!started || s >= end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** `a` minus the union of `b`. */
  private def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    b.foldLeft(a) { case (acc, (s, e)) =>
      acc.flatMap { case (x, y) =>
        if (e <= x || s >= y) Seq((x, y))
        else Seq((x, s), (e, y)).filter(p => p._2 > p._1)
      }
    }

  private def stats(s: Span): SpanStats = {
    val kids = trace.spans.filter(_.parent == s.id)
    val self = minus(Seq((s.startMs, s.endMs)), kids.map(k => (k.startMs, k.endMs)).toSeq)
    val c = ledger.get(s.id.toString)
    val idle = measure(minus(self, c.jobIntervals.toSeq))
    SpanStats(s.ms, s.ms - kids.map(_.ms).sum, idle.toDouble, c)
  }

  val spanNames: Seq[String] = Seq("ops.cdc.loop", "ops.transform", "sources.append",
    "sources.commit", "plans.merge", "plans.refresh", "plans.read", "text.ingest",
    "util.release")

  def perLayer(): Seq[Metric] = {
    val byName = trace.spans.toSeq.groupBy(_.name).map { case (n, ss) => n -> ss.map(stats) }
    def sum(n: String)(f: SpanStats => Double): Double =
      byName.getOrElse(n, Nil).map(f).sum
    val perSpan = spanNames.flatMap { n =>
      Seq(
        Metric(s"$n.ms", sum(n)(_.ms), "ms"),
        Metric(s"$n.self_ms", sum(n)(_.selfMs), "ms"),
        Metric(s"$n.jobs", sum(n)(_.c.jobs.toDouble), "count"),
        Metric(s"$n.tasks", sum(n)(_.c.tasks.toDouble), "count"),
        Metric(s"$n.exec_cpu_ms", sum(n)(_.c.execCpuNs / 1e6), "ms"),
        Metric(s"$n.driver_ms", sum(n)(_.driverMs), "ms"),
        Metric(s"$n.rows_read", sum(n)(_.c.rowsRead.toDouble), "rows"),
        Metric(s"$n.rows_written", sum(n)(_.c.rowsWritten.toDouble), "rows"),
        Metric(s"$n.shuffle_bytes", sum(n)(_.c.shuffleBytes.toDouble), "bytes"),
        Metric(s"$n.bytes_written", sum(n)(_.c.bytesWritten.toDouble), "bytes"))
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    perSpan ++ Seq(
      Metric("ops.cdc.rows_read_per_row",
        ratio(wl.stats("keyset_rows_scanned").toDouble,
          wl.stats("rows_committed").toDouble), "ratio"),
      Metric("plans.merge.rows_written_per_change",
        ratio(sum("plans.merge")(_.c.rowsWritten.toDouble),
          wl.stats("change_rows").toDouble), "ratio"),
      Metric("plans.read.rows_read_per_row",
        ratio(sum("plans.read")(_.c.rowsRead.toDouble),
          wl.stats("read_rows").toDouble), "ratio"))
  }

  def traceJson(workload: String, seed: Long, e2e: Seq[Metric]): String = {
    val spans = trace.spans.toSeq.map { s =>
      val st = stats(s)
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "ms" -> Json.num(st.ms),
        "self_ms" -> Json.num(st.selfMs), "driver_ms" -> Json.num(st.driverMs),
        "jobs" -> st.c.jobs.toString, "tasks" -> st.c.tasks.toString,
        "exec_cpu_ms" -> Json.num(st.c.execCpuNs / 1e6),
        "rows_read" -> st.c.rowsRead.toString, "rows_written" -> st.c.rowsWritten.toString,
        "shuffle_bytes" -> st.c.shuffleBytes.toString,
        "bytes_written" -> st.c.bytesWritten.toString))
    }
    Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "unattributed_jobs" -> ledger.get(Ledger.UnitTag).jobs.toString,
      "end_to_end" -> Json.metrics(e2e),
      "spans" -> spans.mkString("[\n", ",\n", "\n]")))
  }
}
