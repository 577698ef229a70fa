package graft

import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends SparkSuite {
  import spark.implicits._

  test("topPerGroup is deterministic under ties (items.py:149-155 as window)") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 4.0),
      ("b", 4L, 1.0)
    ).toDF("k", "id", "score")
    val got = Dedup.topPerGroup(df, Seq("k"),
      Seq(col("score").desc, col("id").asc))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 1L), ("b", 4L)))
  }

  test("assertResolved aborts the batch on unresolved FKs (custom_err.py)") {
    val fact = Seq((1L, Some("x")), (2L, None)).toDF("id", "resolved")
    val e = intercept[IncrementalDependencyException] {
      FkRemap.assertResolved(fact, "resolved", "dim")
    }
    assert(e.getMessage.contains("Missing resolved: 1"))
    // fully resolved passes through
    val ok = Seq((1L, Some("x"))).toDF("id", "resolved")
    assert(FkRemap.assertResolved(ok, "resolved", "dim").count() == 1)
  }

  test("anti/semi joins partition the fact set") {
    val fact = Seq(1L, 2L, 3L).toDF("k")
    val dim  = Seq(2L, 3L).toDF("k")
    assert(FkRemap.semi(fact, dim, Seq("k")).count() == 2)
    assert(FkRemap.anti(fact, dim, Seq("k")).count() == 1)
  }

  test("melt produces EAV rows (location_settings.py:89-93)") {
    val wide = Seq((1L, 10.0, 20.0)).toDF("id", "a", "b")
    val got = Reshape.melt(wide, Seq("id"), Seq("a", "b"))
      .orderBy("key").collect().map(r => (r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 10.0), ("b", 20.0)))
  }

  test("jsonAgg emits sorted, non-ASCII-preserving JSON (locations.py:162-166)") {
    val child = Seq((1L, 2L, "مرحبا"), (1L, 1L, "x")).toDF("pid", "cid", "name")
    val got = Reshape.jsonAgg(child, Seq("pid"),
      Seq(col("cid"), col("name")), "j").first().getString(1)
    assert(got == """[{"cid":1,"name":"x"},{"cid":2,"name":"مرحبا"}]""")
  }

  test("asOf join: latest right row at-or-before, NULL when none precede") {
    val clicks = Seq((1L, 10L, "2024-01-01 10:00:00"),
      (2L, 10L, "2024-01-01 11:00:00"),
      (3L, 20L, "2024-01-01 09:00:00"),
      (4L, 10L, "2024-01-01 10:30:00")) // exactly at a purchase ts → inclusive
      .toDF("id", "u", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val purch = Seq((10L, "2024-01-01 09:30:00", 5.0),
      (10L, "2024-01-01 10:30:00", 7.0))
      .toDF("u", "ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = AsOfJoin.asOf(clicks, purch, Seq("u"), "ts", "ts")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.toSeq == Seq((1L, Some(5.0)), (2L, Some(7.0)),
      (3L, None), (4L, Some(7.0))))
  }

  test("asOf: matched row's NULL value stays NULL (no stale carry), collisions rejected") {
    val left = Seq((1L, 10L, "2024-01-01 10:00:00")).toDF("id", "u", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val right = Seq((10L, "2024-01-01 09:00:00", Some(5.0)),
      (10L, "2024-01-01 09:30:00", None))
      .toDF("u", "ts_s", "v")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = AsOfJoin.asOf(left, right, Seq("u"), "ts", "ts").first()
    assert(got.isNullAt(got.fieldIndex("v")),
      "matched row has v=NULL; older 5.0 must not be resurrected")
    val collide = left.withColumn("v", lit(1.0))
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(collide, right, Seq("u"), "ts", "ts")
    }
    assert(e.getMessage.contains("collide"))
  }

  test("CDC loop: incremental batches reproduce the one-shot result and resume from state") {
    val tmp = java.nio.file.Files.createTempDirectory("cdc_spec_").toString
    val src = (1L to 100L).map(i => (i, i * 2)).toDF("id", "v")
    val store = new Cdc.WatermarkStore(spark, s"$tmp/wm")
    var wmKeys = Seq.empty[Long]
    val n = Cdc.runLoop(src, "id", "t", store, batchSize = 17,
      df => df, (b, wm) => {
        wmKeys :+= wm
        b.write.mode("overwrite").parquet(s"$tmp/out/batch=$wm")
      })
    assert(n == 6 && wmKeys.size == 6) // ceil(100/17)
    // sink keys are the start watermarks — restart-stable batch ids
    assert(wmKeys == Seq(0L, 17L, 34L, 51L, 68L, 85L))
    assert(store.read("t") == 100L)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 100)
    assert(out.agg(sum("v")).first().getLong(0) == (1L to 100L).map(_ * 2).sum)
    // resume: watermark exhausted → zero further batches
    assert(Cdc.runLoop(src, "id", "t", store, 17, df => df, (_, _) => fail()) == 0)
  }

  test("CDC loop enforces the sink contract: zero actions and partial scans fail loudly") {
    val src = (1L to 100L).map(i => (i, i * 2)).toDF("id", "v")

    // a sink that never runs an action: the observation never fires —
    // must throw instead of blocking forever on obs.get
    val tmp1  = java.nio.file.Files.createTempDirectory("cdc_noact_").toString
    val lazySink = intercept[IllegalStateException] {
      Cdc.runLoop(src, "id", "t", new Cdc.WatermarkStore(spark, s"$tmp1/wm"),
        batchSize = 17, df => df, (_, _) => (), metricsTimeoutSec = 3)
    }
    assert(lazySink.getMessage.contains("without running a Spark action"))

    // a sink whose action reads only PART of the batch (a limit probe):
    // observe under-reports, the loop believes the source is drained —
    // the end-of-loop existence probe must catch the unprocessed rows
    // instead of silently committing a partial watermark
    val tmp2 = java.nio.file.Files.createTempDirectory("cdc_partial_").toString
    val partial = intercept[IllegalStateException] {
      Cdc.runLoop(src, "id", "t", new Cdc.WatermarkStore(spark, s"$tmp2/wm"),
        batchSize = 17, df => df, (b, _) => { b.limit(3).count(); () })
    }
    assert(partial.getMessage.contains("unprocessed rows beyond watermark"))
  }

  test("CDC loop: the first-iteration probe reads at most one row group") {
    // four files of 100 ids, one row group each: the existence probe
    // stops at the first row instead of sorting or scanning the source
    val tmp = java.nio.file.Files.createTempDirectory("cdc_probe_").toString
    (1L to 400L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(4, $"id").write.parquet(s"$tmp/src")
    val src = spark.read.parquet(s"$tmp/src")
    val store = new Cdc.WatermarkStore(spark, s"$tmp/wm")
    val (n, scans) = PlanScans.during(spark) {
      Cdc.runLoop(src, "id", "t", store, batchSize = 150, df => df,
        (b, wm) => b.write.mode("overwrite").parquet(s"$tmp/out/batch=$wm"))
    }
    assert(n == 3)
    val probe = scans.filter(_.action == "head")
    assert(probe.size == 1 && probe.head.rows <= 100, s"probe scans: $probe")
    // resume against the drained source: the probe finds nothing and
    // the sink is never called
    val (again, resumed) = PlanScans.during(spark) {
      Cdc.runLoop(src, "id", "t", store, 150, df => df, (_, _) => fail())
    }
    assert(again == 0)
    assert(resumed.filter(_.action == "head").map(_.rows).sum == 0)
  }

  test("Orchestrator.runConcurrent: waves run parallel, results deterministic") {
    import Orchestrator.Pipeline
    val tmp = java.nio.file.Files.createTempDirectory("orch_par_").toString
    val store = new Cdc.WatermarkStore(spark, s"$tmp/wm", initial = -1L)
    val src = (0L until 40L).map(i => (i, i * 2)).toDF("id", "v")
    src.write.parquet(s"$tmp/src")
    def loopPipeline(name: String, deps: String*) =
      Pipeline(name, deps, (sp, st) =>
        Cdc.runLoop(sp.read.parquet(s"$tmp/src"), "id", name, st,
          batchSize = 25, df => df,
          (b, wm) => b.write.mode("overwrite").parquet(s"$tmp/$name/batch=$wm")))
    // diamond: sync → {dim_a, dim_b} → fact; the two dims are one
    // wave and run on concurrent driver threads against the SHARED
    // watermark store — the synchronized upsert keeps both
    val suite = Seq(loopPipeline("fact", "dim_a", "dim_b"),
      loopPipeline("dim_a", "sync"), loopPipeline("dim_b", "sync"),
      loopPipeline("sync"))
    assert(Orchestrator.waves(suite).map(_.map(_.name)) ==
      Seq(Seq("sync"), Seq("dim_a", "dim_b"), Seq("fact")))
    val got = Orchestrator.runConcurrent(spark, store, suite, parallelism = 2)
    assert(got == Seq("sync" -> 2, "dim_a" -> 2, "dim_b" -> 2, "fact" -> 2))
    // every watermark survived the concurrent wave (no lost update)
    for (p <- Seq("sync", "dim_a", "dim_b", "fact"))
      assert(store.read(p) == 39L, s"$p watermark lost")

    // a same-wave failure completes the sibling, names the loser, and
    // the re-run drains only what never finished
    var armed = true
    val flaky = Pipeline("dim_c", Seq("sync"), (sp, st) => {
      if (armed) { armed = false; sys.error("boom") }
      loopPipeline("dim_c").run(sp, st)
    })
    val suite2 = Seq(loopPipeline("sync"), loopPipeline("dim_a", "sync"),
      flaky, loopPipeline("fact2", "dim_a", "dim_c"))
    val e = intercept[IllegalStateException] {
      Orchestrator.runConcurrent(spark, store, suite2, parallelism = 2)
    }
    assert(e.getMessage.contains("dim_c") && e.getMessage.contains("boom"))
    assert(store.read("fact2") == -1L, "later wave must not have started")
    val resumed = Orchestrator.runConcurrent(spark, store, suite2).toMap
    assert(resumed("dim_a") == 0 && resumed("dim_c") == 2 &&
      resumed("fact2") == 2)
  }

  test("Orchestrator: dependency order, loud cycles, resume mid-suite") {
    import Orchestrator.Pipeline
    // order comes from the DAG, ties resolve by name, declaration
    // order is irrelevant
    def noop(name: String, deps: String*) =
      Pipeline(name, deps, (_, _) => 0)
    val ordered = Orchestrator.order(Seq(
      noop("fact_b", "dim"), noop("dim", "sync"), noop("sync"),
      noop("fact_a", "dim")))
    assert(ordered.map(_.name) == Seq("sync", "dim", "fact_a", "fact_b"))
    intercept[IllegalArgumentException] {
      Orchestrator.order(Seq(noop("a", "b"), noop("b", "a")))
    }
    intercept[IllegalArgumentException] {
      Orchestrator.order(Seq(noop("a", "ghost")))
    }
    intercept[IllegalArgumentException] {
      Orchestrator.run(spark, null, Seq(noop("a"), noop("a")))
    }

    // resume mid-suite: pipeline 2 dies on its FIRST attempt after
    // pipeline 1 committed its watermarks; the re-run drains nothing
    // new from pipeline 1 (0 batches) and completes 2 and 3 exactly
    // once — per-table watermarks in ONE store are the resume point
    val tmp = java.nio.file.Files.createTempDirectory("orch_").toString
    val store = new Cdc.WatermarkStore(spark, s"$tmp/wm", initial = -1L)
    val src = (0L until 40L).map(i => (i, i * 2)).toDF("id", "v")
    src.write.parquet(s"$tmp/src")
    def loopPipeline(name: String, deps: Seq[String]) =
      Pipeline(name, deps, (sp, st) =>
        Cdc.runLoop(sp.read.parquet(s"$tmp/src"), "id", name, st,
          batchSize = 25, df => df,
          (b, wm) => b.write.mode("overwrite").parquet(s"$tmp/$name/batch=$wm")))
    var armed = true
    val flaky = Pipeline("p2_flaky", Seq("p1_dim"), (sp, st) => {
      val n = loopPipeline("p2_flaky", Nil).run(sp, st)
      if (armed) { armed = false; sys.error("executor lost (simulated)") }
      n
    })
    val suite = Seq(loopPipeline("p1_dim", Nil), flaky,
      loopPipeline("p3_fact", Seq("p2_flaky")))
    intercept[RuntimeException] { Orchestrator.run(spark, store, suite) }
    // p1 finished (2 batches of 25 over 40 rows), p3 never started
    assert(store.read("p1_dim") == 39L)
    assert(store.read("p3_fact") == -1L)
    val resumed = Orchestrator.run(spark, store, suite).toMap
    assert(resumed("p1_dim") == 0)  // drained: nothing re-processed
    assert(resumed("p3_fact") == 2)
    // exactly-once end to end: every pipeline's output is the source,
    // no duplicates from the crashed run
    for (p <- Seq("p1_dim", "p2_flaky", "p3_fact")) {
      val got = spark.read.parquet(s"$tmp/$p").select("id")
        .as[Long].collect().sorted
      assert(got.toSeq == (0L until 40L), s"$p: ${got.length} rows")
    }
  }
}
