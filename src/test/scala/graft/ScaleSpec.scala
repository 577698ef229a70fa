package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import graft.ops.{Ids, Skew}
import graft.sources.Sinks

/** Scale-mechanism specs: salting equivalence and bucketed
  * shuffle-elimination — the properties SCALE.md claims. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  /** Messages of a throwable and its whole cause chain. */
  private def exMessageChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(e => Option(e.getMessage)).toSeq

  test("saltedJoin == plain join on skewed data") {
    // one hot key (90% of rows) + long tail
    val fact = ((1 to 900).map(i => (7L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 5, i.toLong + 1000)))
      .toDF("k", "payload")
    val dim = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e")).toDF("k", "name")
    val plain  = fact.join(dim, Seq("k"), "left")
    val salted = Skew.saltedJoin(fact, dim, "k", "payload", salts = 8)
    assert(salted.count() == plain.count())
    val a = plain.orderBy("k", "payload").collect().map(_.toSeq)
    val b = salted.select(plain.columns.map(col): _*)
      .orderBy("k", "payload").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("saltedJoin rejects dim-preserving join types (per-salt duplication)") {
    val fact = Seq((1L, 1L)).toDF("k", "payload")
    val dim = Seq((1L, "x"), (2L, "unmatched")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", "payload", salts = 4, joinType = "right")
    }
    assert(e.getMessage.contains("once per salt"))
    // anti stays exact: each fact row meets exactly its own dim copy
    val anti = Skew.saltedJoin(fact, dim.filter($"k" =!= 1L), "k", "payload",
      salts = 4, joinType = "left_anti")
    assert(anti.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("saltedSum == plain groupBy sum (long-typed, exact)") {
    val df = ((1 to 500).map(_ => ("hot", 1L)) ++
      (1 to 50).map(i => (s"k${i % 7}", i.toLong))).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedSum(df, "k", "v", "v", salts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("AQE splits the hot partition of an unsalted skewed join (skew=true)") {
    // the runtime half of the skew story: when salting is NOT applied,
    // AQE's skew-join split must kick in. A session tuned so the hot
    // partition crosses the skew threshold on test-sized data; the
    // final adaptive plan must carry the skew=true SMJ marker.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    // 99% of fact rows on key 0; dim covers every key
    val fact = s2.range(100000).select(
      when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"),
      ($"id" * 7).as("payload"))
    val dim = s2.range(1000).select(($"id" * 100).as("k"),
      concat(lit("t"), $"id").as("tag"))
    val joined = fact.join(dim, "k")
    assert(joined.count() == 100000L)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected an AQE skew-split SMJ in:\n$plan")
  }

  test("saltedJoin plan: merge-hinted dim joins on (key, salt) via SMJ, no broadcast") {
    // the compile-time half: the salted plan spreads the hot key over
    // (key, salt) reducers through a shuffled join — no broadcast arm
    // (which would make the salt pointless), salt visible in the keys.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val fact = s2.range(5000).select(
      when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"),
      ($"id" * 3).as("payload"))
    val dim = s2.range(50).select(($"id" * 100).as("k"), ($"id" % 7).as("bucket"))
    val salted = Skew.saltedJoin(fact, dim.hint("merge"), "k", "payload", salts = 8)
    salted.collect()
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"unexpected broadcast in:\n$plan")
    assert(plan.contains("__salt"), s"salt missing from join keys in:\n$plan")
  }

  test("compactZOrdered: value-clustered files prune on either dimension") {
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val base = java.nio.file.Files.createTempDirectory("zorder_man_").toString
    val root = s"$base/t"
    val manPath = s"$base/_commits"
    val man = new TxnManifest(manPath)
    // 4 append batches, each covering the FULL (x, y) range — arrival
    // order correlates with NOTHING, so append-order stats cannot
    // prune a value predicate on any column
    val rows = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, ((i / 64) % 64).toLong))
    for (b <- 0 until 4) {
      StatsSinks.appendBatchStats(
        rows.filter(_._1 % 4 == b).toDF("id", "x", "y"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    def load() = spark.read.format("graft-manifest")
      .option("manifest", manPath).load(root)
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
        .head.metrics("manifestFilesRead").value
    }
    // pre-compaction: every batch spans the full value range, so the
    // value predicate prunes NOTHING — same files as the full scan
    val beforeAll = filesPlanned(load().select("id"))
    val beforeFiltered = filesPlanned(load().where($"x" < 16L).select("id"))
    assert(beforeFiltered == beforeAll,
      s"arrival-order stats should not prune: $beforeFiltered vs $beforeAll")

    // OPTIMIZE ZORDER BY (x, y): one atomic re-point, sidecar included
    Sinks.compactZOrdered(spark, root, man, compactId = 100,
      a = col("x"), b = col("y"), numFiles = 4)
    assert(man.committedDirs(root) == Seq(s"$root/batch=100"))
    assert(load().count() == 4096) // same rows, new layout

    val total = filesPlanned(load().select("id"))
    val xPruned = filesPlanned(load().where($"x" < 16L).select("id"))
    val yPruned = filesPlanned(load().where($"y" < 16L).select("id"))
    assert(total == 4)
    // each narrow predicate touches only the z-quadrants it overlaps —
    // including y, the NON-leading dimension a linear sort would lose
    assert(xPruned < total, s"x-pruning: $xPruned vs $total")
    assert(yPruned < total, s"y-pruning: $yPruned vs $total")
    // and results under pruning stay exact
    assert(load().where($"x" < 16L).count() == 4096 / 4)
    assert(load().where($"y" < 16L).count() == 4096 / 4)
  }

  test("incremental OPTIMIZE rewrites only fresh batches; generations stay byte-untouched") {
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val base = java.nio.file.Files.createTempDirectory("zorder_inc_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/_commits")
    val zcols = Seq(col("x"), col("y"))
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i % 64).toLong, ((i / 64) % 64).toLong))
    def append(b: Int, mod: Int, rem: Int): Unit = {
      StatsSinks.appendBatchStats(
        rows.filter(_._1 % mod == rem).toDF("id", "x", "y"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    for (b <- 0 until 3) append(b, mod = 5, rem = b)

    // first optimize: everything is fresh, one generation appears
    assert(Sinks.compactZOrderedIncremental(spark, root, man, 100, zcols, 4))
    assert(man.committedDirs(root) == Seq(s"$root/batch=100"))
    def gen1State(): Map[String, Long] =
      new java.io.File(s"$root/batch=100").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val gen1 = gen1State()
    assert(gen1.size == 4)
    val vAfterFirst = man.version()

    // nothing fresh: a re-run is a NO-OP and commits nothing
    assert(!Sinks.compactZOrderedIncremental(spark, root, man, 101, zcols, 4))
    assert(man.version() == vAfterFirst)

    // two late appends; the second optimize touches ONLY them —
    // O(new data), while generation 1 stays byte-identical on disk
    append(3, mod = 5, rem = 3)
    append(4, mod = 5, rem = 4)
    assert(Sinks.compactZOrderedIncremental(spark, root, man, 102, zcols, 4))
    assert(man.committedDirs(root) ==
      Seq(s"$root/batch=100", s"$root/batch=102"))
    assert(gen1State() == gen1, "generation 1 was rewritten")

    // the table still serves every row, and BOTH dimensions prune
    // inside every generation
    def load() = spark.read.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
        .head.metrics("manifestFilesRead").value
    }
    assert(load().count() == 4096)
    val total = filesPlanned(load().select("id"))
    assert(total == 8)
    assert(filesPlanned(load().where($"x" < 16L).select("id")) < total)
    assert(filesPlanned(load().where($"y" < 16L).select("id")) < total)
    assert(load().where($"x" < 16L).count() == 4096 / 4)

    // a DIFFERENT z-order spec invalidates prior generations: both
    // get rewritten into one fresh generation under the new spec
    assert(Sinks.compactZOrderedIncremental(spark, root, man, 103,
      Seq(col("x")), 2))
    assert(man.committedDirs(root) == Seq(s"$root/batch=103"))
    assert(load().count() == 4096)
  }

  test("DV delete: 0.1% takedown touches ZERO data bytes; compact/CDF/clone/vacuum compose") {
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    val base = java.nio.file.Files.createTempDirectory("dv_scale_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/_commits")
    for (b <- 0 until 4) {
      StatsSinks.appendBatchStats(
        (0 until 10000).filter(_ % 4 == b)
          .map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    def dataFiles(): Map[String, (Long, Long)] =
      (0 until 4).flatMap { b =>
        new java.io.File(s"$root/batch=$b").listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified()))
      }.toMap
    val before = dataFiles()

    // the takedown: 10 of 10000 rows (0.1%), with CDF
    val victims = (0L until 10000L by 1000L).toDF("id")
    Sinks.mergeDeleteDV(spark, victims, root, man, Seq("id"),
      mergeId = 10, cdf = true)
    // 1. not one data byte moved: same files, same length, same mtime
    assert(dataFiles() == before, "a DV delete must not rewrite data")
    // 2. all four data entries still named; the DV rides batch 10
    val entries = man.committed()
    assert((0 until 4).forall(entries.contains))
    assert(entries(10) == Seq(s"$root/_dv/batch=10"))
    // 3. reads apply the vector
    assert(Sinks.readCommitted(spark, root, man).count() == 9990)
    assert(Sinks.readCommitted(spark, root, man)
      .where($"id" === 3000L).count() == 0)
    // 4. the change feed serves the 10 delete pre-images
    val changes = Sinks.readChanges(spark, root, man, 3, 10)
    assert(changes.where($"_change_type" === "delete").count() == 10)
    // 5. a clone inherits the vector (entries span the source root)
    val cloneMan = new TxnManifest(s"$base/_clone")
    cloneMan.cloneFrom(man, root)
    assert(Sinks.readCommittedUnion(spark, cloneMan).count() == 9990)
    // 6. time travel BEFORE the DV still serves all rows
    assert(Sinks.readCommittedAsOf(spark, root, man, 3).count() == 10000)
    // 7. the DSv2 reader applies the vector NATIVELY: parquet's own
    // row-index generator feeds a positional filter, so indices stay
    // correct even under pushed-filter row-group skipping
    def dsv2() = spark.read.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
    assert(dsv2().count() == 9990)
    assert(dsv2().where($"id" === 3000L).count() == 0)   // DV'd row gone
    assert(dsv2().where($"id" === 3001L).count() == 1)   // neighbor lives
    assert(dsv2().select("v").where($"id" === 2999L).as[String].head() == "v2999")
    // ... but the plain STREAM fails loudly (it cannot express
    // row removal; changeFeed is the deletion-capable subscription)
    val sDir = java.nio.file.Files.createTempDirectory("dv_stream_").toString
    val sq = spark.readStream.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
      .writeStream.format("parquet").option("path", s"$sDir/out")
      .option("checkpointLocation", s"$sDir/ckpt").start()
    val sErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try sq.processAllAvailable() finally sq.stop()
    }
    assert(sErr.getMessage.contains("deletion-vector") ||
      Option(sErr.getCause).exists(_.getMessage.contains("deletion-vector")))
    // 8. compaction MATERIALIZES: result identical, _dv un-named
    Sinks.compact(spark, root, man, compactId = 20, numFiles = 2)
    assert(Sinks.readCommitted(spark, root, man).count() == 9990)
    assert(!man.committed().values.flatten.exists(Sinks.isDvDir))
    // ... and the DSv2 view agrees post-materialization
    assert(dsv2().count() == 9990)
    // 9. vacuum sweeps the now-orphan vector dir
    val swept = Sinks.vacuum(root, man, graceMillis = 0)
    assert(swept.contains("_dv/batch=10"), s"swept: $swept")
    assert(!new java.io.File(s"$root/_dv/batch=10").exists())
  }

  test("DV update: 0.1% update touches ZERO existing data bytes; CDF serves pre/post images") {
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    val base = java.nio.file.Files.createTempDirectory("dvu_scale_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/_commits")
    for (b <- 0 until 4) {
      StatsSinks.appendBatchStats(
        (0 until 10000).filter(_ % 4 == b)
          .map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    def dataFiles(): Map[String, (Long, Long)] =
      (0 until 4).flatMap { b =>
        new java.io.File(s"$root/batch=$b").listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified()))
      }.toMap
    val before = dataFiles()

    // the update: 10 of 10000 rows (0.1%) re-valued + 1 insert, CDF on
    val ups = ((0L until 10000L by 1000L).map(i => (i, s"U$i")) :+
      (20000L, "NEW")).toDF("id", "v")
    Sinks.mergeUpdateDV(spark, ups, root, man, Seq("id"),
      mergeId = 10, cdf = true)
    // 1. not one EXISTING data byte moved — old versions are vectored,
    // new versions live in the appended batch=10 dir
    assert(dataFiles() == before, "a DV update must not rewrite data")
    val entries = man.committed()
    assert((0 until 4).forall(entries.contains))
    assert(entries(10).toSet ==
      Set(s"$root/batch=10", s"$root/_dv/batch=10"),
      "ONE commit must name the append and the vector together")
    // 2. reads serve the new versions exactly once
    val t = Sinks.readCommitted(spark, root, man)
    assert(t.count() == 10001)
    assert(t.where($"id" === 3000L).select("v").as[String].head() == "U3000")
    assert(t.where($"id" === 2999L).select("v").as[String].head() == "v2999")
    assert(t.where($"id" === 20000L).count() == 1)
    // 3. the change feed serves update pre/post images + the insert
    val changes = Sinks.readChanges(spark, root, man, 3, 10)
    assert(changes.where($"_change_type" === "update_preimage").count() == 10)
    assert(changes.where($"_change_type" === "update_postimage").count() == 10)
    assert(changes.where($"_change_type" === "insert").count() == 1)
    // 4. a SECOND overlapping update vectors the first's appended
    // version — composition, still zero bytes of history rewritten
    Sinks.mergeUpdateDV(spark, Seq((3000L, "W3000")).toDF("id", "v"),
      root, man, Seq("id"), mergeId = 11)
    val t2 = Sinks.readCommitted(spark, root, man)
    assert(t2.count() == 10001)
    assert(t2.where($"id" === 3000L).select("v").as[String].head() == "W3000")
    // 5. the DSv2 reader agrees (native positional filtering)
    def dsv2() = spark.read.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
    assert(dsv2().count() == 10001)
    assert(dsv2().where($"id" === 3000L).select("v").as[String].head() == "W3000")
    // 6. compaction materializes both vectors; result identical
    Sinks.compact(spark, root, man, compactId = 20, numFiles = 2)
    assert(Sinks.readCommitted(spark, root, man).count() == 10001)
    assert(!man.committed().values.flatten.exists(Sinks.isDvDir))
    assert(Sinks.readCommitted(spark, root, man)
      .where($"id" === 3000L).select("v").as[String].head() == "W3000")
  }

  test("q21_waiting_supplier plan: semi/anti joins only, never a cartesian") {
    // the double-correlated EXISTS / NOT-EXISTS decorrelation must
    // stay equi-keyed on l_orderkey (supplier inequality as residual
    // condition) — a cartesian or nested-loop here is the plan that
    // dies at 100 TB
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.queries.CoreQueries.queries("q21_waiting_supplier")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val loops = plan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case l: BroadcastNestedLoopJoinExec => l
    }
    assert(loops.isEmpty, s"cartesian/nested-loop in q21 plan:\n$plan")
    val joinTypes = plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType.toString
    }
    assert(joinTypes.exists(_.contains("LeftSemi")), s"no semi join: $joinTypes")
    assert(joinTypes.exists(_.contains("LeftAnti")), s"no anti join: $joinTypes")
  }

  test("t8_length_deciles plan has no window and no global sort") {
    // the round-1 formulation was ntile() over a partition-less window:
    // a single-task sort of the whole table. The rewrite must keep the
    // plan free of ANY window (deciles come from a broadcast boundary
    // join) and of a global sort.
    val df = graft.queries.CurationQueries.queries("t8_length_deciles")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val wins = plan.collectWithSubqueries { case w: WindowExec => w }
    assert(wins.isEmpty, s"expected window-free plan, got:\n$plan")
    val globalSorts = plan.collectWithSubqueries {
      case s: SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"expected no global sort, got:\n$plan")
  }

  test("TPC-H family plans: pushed predicates, top-k without a global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    // pre-AQE physical plan: the shapes asserted here are static
    // planning decisions (pushdown, top-k operator, join kind), and
    // the pre-AQE tree is traversable without unwrapping query stages
    def planOf(name: String) =
      graft.queries.CoreQueries.queries(name)(spark, sf)
        .queryExecution.sparkPlan
    // q3/q18: the top slice is TakeOrderedAndProject (per-partition
    // top-k, one driver merge), never a global sort of the aggregate
    for (q <- Seq("q3_shipping_priority", "q18_volume_customer")) {
      val plan = planOf(q)
      assert(plan.collectWithSubqueries {
        case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$q must plan TakeOrderedAndProject:\n$plan")
      assert(plan.collectWithSubqueries {
        case s: SortExec if s.global => s }.isEmpty,
        s"$q must not global-sort:\n$plan")
    }
    // q3: both date predicates reach their parquet scans
    val q3 = planOf("q3_shipping_priority")
    val scansWithPush = q3.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("PushedFilters").exists(p =>
          p.contains("l_shipdate") || p.contains("o_orderdate")) => f
    }
    assert(scansWithPush.size >= 2,
      s"q3 date predicates must push to both scans:\n$q3")
    // q4: EXISTS plans as an equi LEFT SEMI join (the date residual
    // rides the equi key), never a nested-loop or cartesian
    val q4 = planOf("q4_late_orders")
    val semis = q4.collectWithSubqueries {
      case j: BaseJoinExec
        if j.joinType.toString.toLowerCase.contains("semi") => j
    }
    assert(semis.nonEmpty, s"q4 must plan a semi join:\n$q4")
    assert(q4.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty, s"q4 must not plan a nested-loop/cartesian:\n$q4")
  }

  test("per-row text queries plan with zero exchanges") {
    // t10/t11/t22/t29 are pure per-row curation passes: ANY exchange
    // in the plan means a shuffle snuck into what must stay
    // scan-parallel (t29 = the full HTML render+extract round trip).
    for (q <- Seq("t10_redact", "t11_repetition", "t22_gopher_rules",
        "t29_html_extract", "t31_warc_extract")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val ex = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
      assert(ex.isEmpty, s"$q expected exchange-free plan, got:\n$plan")
    }
  }

  test("multimodal content queries plan with zero exchanges; dd15 shuffles only on bands") {
    // mm6/mm7/mm8 are per-row decode+hash passes (mapPartitions at
    // scan speed): no exchange may carry DECODED media, hash output,
    // or the document TEXT — the one allowed exchange is the
    // pre-render id spread (Multimodal.spreadIds: doc_id-ONLY rows,
    // O(ids) bytes, below the decode), which unlocks scan-width
    // parallelism on few-split inputs and moves no payload at any
    // scale. Text-deriving legs (pdf render) must stay exchange-free
    // instead: spreading them would shuffle the corpus at scale.
    for (q <- Seq("mm6_image_phash", "mm7_audio_fingerprint",
        "mm8_video_frames", "mm9_gif_pixels", "mm10_flac_samples",
        "mm11_jpeg_pixels", "mm12_jpeg_color", "mm13_mp4_samples",
        "mm14_pdf_text", "mm15_gif_anim_frames")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val ex = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
      val heavy = ex.filterNot(_.child.output.forall(_.name == "doc_id"))
      assert(heavy.isEmpty,
        s"$q expected no exchange beyond a doc_id-only spread, got:\n$plan")
    }
    // the near-dup family's only repartitioning is the banded LSH
    // self-join (plus its dedup) — never an all-pairs cartesian; the
    // cur2 composite chains pairs → CC → shard-pack and must keep
    // the same property end to end
    for (q <- Seq("dd15_image_neardup", "dd16_audio_neardup",
        "dd17_video_neardup", "cur2_multimodal_curation",
        "dd19_substring_spans", "dd20_crosscodec_neardup",
        "dd23_crosscontainer_video")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.sparkPlan
      val cart = plan.collectWithSubqueries {
        case e: org.apache.spark.sql.execution.joins.CartesianProductExec => e
        case e: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => e
      }
      assert(cart.isEmpty, s"$q must never plan an all-pairs product:\n$plan")
    }
  }

  test("substring-span dedup caps anchor document frequency (hot-anchor skew)") {
    import graft.text.SubstringSpans
    // A boilerplate 8-gram shared by M docs would make M² candidate
    // rows inside ONE anchor hash — the skewed-key shuffle the df cap
    // exists to kill. 40 docs share a 20-token license header (13
    // anchors, df=40 > 16): without the cap that is 780 pairs each
    // reporting a 20-token span; with it, ZERO — their unique tails
    // share nothing.
    val boiler = (0 until 20).map(i => s"b$i")
    val boilerDocs = (1 to 40).map { i =>
      (i.toLong, boiler ++ (0 until 20).map(j => s"u${i}_$j")) }
    // a genuine duplicated span (df=2) must still come back exactly:
    // 24 shared tokens at offset 4 in doc 101, offset 10 in doc 102
    val shared = (0 until 24).map(i => s"s$i")
    val truePair = Seq(
      (101L, (0 until 4).map(j => s"f1_$j") ++ shared ++
        (0 until 10).map(j => s"g1_$j")),
      (102L, (0 until 10).map(j => s"f2_$j") ++ shared ++
        (0 until 4).map(j => s"g2_$j")))
    // SPLIT SEMANTICS: docs 201/202 share 52 tokens whose middle 20
    // ARE the boilerplate — anchors fully inside it (positions
    // 16..28) are hot and drop, so the one run splits into exactly
    // two 23-token spans (0..22 and 29..51), each clearing the floor
    val emb = (0 until 16).map(i => s"p$i") ++ boiler ++
      (0 until 16).map(i => s"q$i")
    val splitPair = Seq(
      (201L, emb ++ (0 until 6).map(j => s"h1_$j")),
      (202L, emb ++ (0 until 6).map(j => s"h2_$j")))
    val docs = (boilerDocs ++ truePair ++ splitPair).toDF("doc_id", "w")
    val spans = SubstringSpans.spans(docs, "doc_id", "w",
      k = 8, maxDf = 16, minTokens = 16).collect()
    val amongBoiler = spans.filter(r =>
      r.getLong(0) <= 40 && r.getLong(1) <= 40)
    assert(amongBoiler.isEmpty,
      s"hot anchor (df=40) must be dropped before the self-join, got " +
        s"${amongBoiler.length} boilerplate-only pairs")
    val tp = spans.filter(r => r.getLong(0) == 101L && r.getLong(1) == 102L)
    assert(tp.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet ==
      Set((4L, 10L, 24L)),
      s"df=2 span must survive the cap token-exact: ${tp.mkString(",")}")
    val sp = spans.filter(r => r.getLong(0) == 201L && r.getLong(1) == 202L)
    assert(sp.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet ==
      Set((0L, 0L, 23L), (29L, 29L, 23L)),
      s"a run crossing a dropped anchor must split into two spans: " +
        s"${sp.mkString(",")}")
    // and the uncapped form WOULD have blown up — the counterfactual
    // that proves the cap is doing the guarding
    val uncapped = SubstringSpans.spans(docs, "doc_id", "w",
      k = 8, maxDf = 1000, minTokens = 16)
      .filter(col("id1") <= 40 && col("id2") <= 40).count()
    assert(uncapped == 40L * 39 / 2,
      s"counterfactual: expected 780 boilerplate pairs uncapped, got $uncapped")
  }

  test("Hamming-LSH band geometry derives from the corpus count") {
    import graft.sim.HammingBands
    // the occupancy rule: width grows with the corpus so bucket
    // occupancy stays ~occ instead of ~N/2^width — the round-12
    // code-time constants (8-bit bands hold ~4M ids at 10^9 items)
    // are now the rule's CLAMPED endpoints, not the rule
    val widths = Seq(500L, 5000L, 100000L, 10000000L, 1000000000L)
      .map(n => HammingBands.bits(n, occ = 4))
    assert(widths == widths.sorted, s"band width must be monotone in n: $widths")
    assert(widths.head == 8 && widths.last == 16,
      s"clamps [8,16] must bound the rule: $widths")
    assert(HammingBands.bits(5000, occ = 4) > HammingBands.bits(500, occ = 4),
      "width must actually grow across the bench corpus sizes")
    // exact integer-log parity with the oracle's CEIL(LOG2(n/occ))
    assert(HammingBands.bits(1024 * 4, occ = 4, lo = 1, hi = 64) == 10)
    assert(HammingBands.bits(1024 * 4 + 1, occ = 4, lo = 1, hi = 64) == 11)
    // even 64-bit split: widths differ by <=1 and cover all bits
    for (b <- 8 to 16) {
      val sp = HammingBands.spec(b)
      assert(sp.map(_._2).sum == 64, s"spec($b) must cover 64 bits: $sp")
      assert(sp.map(_._2).max - sp.map(_._2).min <= 1,
        s"spec($b) must split evenly: $sp")
      assert(sp.sliding(2).forall {
        case Seq((f1, w1), (f2, _)) => f2 == f1 + w1; case _ => true },
        s"spec($b) bands must be contiguous: $sp")
    }
  }

  test("bucketed tables: storage-partitioned join and agg plan with no shuffle") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_bkt_wh_").toString
    spark.conf.set("spark.sql.catalog.gbk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbk.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // the scan's OWN statistics would auto-broadcast these test-sized
    // tables and hide whether SPJ engaged — force the shuffled-join
    // path so a missing exchange proves storage partitioning
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (t <- Seq("a", "b")) {
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbk.$t")
        GraftSql.execute(spark,
          s"""CREATE TABLE gbk.$t (id BIGINT, v STRING) USING `graft-manifest`
             |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      }
      spark.range(0, 100).selectExpr("id", "concat('a', id) AS v")
        .createOrReplaceTempView("gbk_sa")
      spark.range(50, 150).selectExpr("id", "concat('b', id) AS v")
        .createOrReplaceTempView("gbk_sb")
      GraftSql.execute(spark, "INSERT INTO gbk.a SELECT * FROM gbk_sa")
      GraftSql.execute(spark, "INSERT INTO gbk.b SELECT * FROM gbk_sb")
      // a second append per side: bucket groups span BATCHES
      spark.range(1000, 1010).selectExpr("id", "concat('a', id) AS v")
        .createOrReplaceTempView("gbk_sa2")
      GraftSql.execute(spark, "INSERT INTO gbk.a SELECT * FROM gbk_sa2")

      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      // under AQE the final plan is query-stage LEAVES whose inner
      // plans are invisible to collect — the printed tree (which
      // inlines stages) is the reliable witness, the same string
      // check the AQE skew test uses
      def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
        finalPlan(df).toString.contains("Exchange hashpartitioning")
      // the STORAGE-PARTITIONED JOIN: both sides report
      // bucket(8, id) partitioning resolved through the catalog's
      // bucket function — Spark joins the bucket groups directly,
      // ZERO exchanges (at 100 TB: the fact tables never re-shuffle
      // on a key they were ingested bucketed by)
      val j = spark.sql(
        "SELECT a.id, a.v, b.v AS w FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      assert(j.count() == 50)
      assert(!hasShuffle(j), s"SPJ expected no exchange:\n${finalPlan(j)}")
      // correctness against the plain computed join
      val got = spark.sql(
        "SELECT a.id FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (50L until 100L).toSeq, got.take(10).toString)
      // aggregation on the bucket column: the reported clustering
      // satisfies the group-by distribution — no exchange either
      val g = spark.sql("SELECT id, count(*) AS c FROM gbk.a GROUP BY id")
      assert(g.count() == 110)
      assert(!hasShuffle(g),
        s"bucketed agg expected no exchange:\n${finalPlan(g)}")
      // a FOREIGN batch (raw append, not bucket-routed — no layout
      // marker) degrades the REPORT, never the results: the scan
      // falls back to unknown partitioning, the join shuffles again,
      // and every row still matches. Without the marker gate this
      // batch's part-file names would masquerade as bucket ids and
      // the join would silently DROP matches.
      graft.sources.Sinks.appendBatch(
        Seq((50L, "raw")).toDF("id", "v"), s"$wh/a", 99)
      new graft.sources.TxnManifest(s"$wh/a/_commits")
        .commit(99, Seq(s"$wh/a/batch=99"))
      val j2 = spark.sql(
        "SELECT a.id FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      val got2 = j2.collect().map(_.getLong(0)).sorted.toSeq
      assert(got2 == (50L +: (50L until 100L)).sorted.toSeq, // 50 twice
        got2.take(10).toString)
      assert(hasShuffle(j2),
        s"foreign batch must degrade to a shuffle:\n${finalPlan(j2)}")

      // the rewrite-shaped DML verbs are BUCKET-PRESERVING: each
      // rewrite batch routes through the same repartition + layout
      // marker, so results change and SPJ keeps planning shuffle-free
      // (run after the OPTIMIZE below heals the foreign batch; here
      // they run first against the marked-batches-only view)
      // (round 9 lifted every composition refusal: columnMapping, DV,
      // the streaming sink, and ZORDER — which now sorts WITHIN
      // buckets; see the dedicated tests)

      // the NATIVE (non-statement) append also bucket-routes + marks:
      // SPJ must survive a df.writeTo append
      spark.range(2000, 2010).selectExpr("id", "concat('n', id) AS v")
        .writeTo("gbk.a").append()
      val j3 = spark.sql(
        "SELECT a.id FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      j3.collect()
      // j3 includes batch=99's foreign dir, so partitioning stays
      // degraded; correctness holds regardless
      assert(j3.count() == 51)
      // bare OPTIMIZE is BUCKET-PRESERVING: the rewrite re-routes
      // every row (healing the foreign batch back into the layout),
      // so the storage-partitioned join RETURNS after compaction
      GraftSql.execute(spark, "OPTIMIZE gbk.a")
      val j4 = spark.sql(
        "SELECT a.id FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      assert(j4.count() == 51)
      assert(!hasShuffle(j4),
        s"OPTIMIZE must restore SPJ:\n${finalPlan(j4)}")
      // ... and so are MERGE / UPDATE / DELETE / INSERT OVERWRITE:
      // each rewrite lands marked, results change, SPJ persists
      spark.range(0, 1).selectExpr("id + 60 AS id", "'m' AS v")
        .createOrReplaceTempView("gbk_m")
      GraftSql.execute(spark,
        """MERGE INTO gbk.a AS t USING gbk_m AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
      GraftSql.execute(spark, "UPDATE gbk.a SET v = 'u' WHERE id = 61")
      GraftSql.execute(spark, "DELETE FROM gbk.a WHERE id = 62")
      val j5 = spark.sql(
        "SELECT a.id, a.v FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      val j5got = j5.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(j5got(60L) == "m" && j5got(61L) == "u" &&
        !j5got.contains(62L) && j5.count() == 50)
      assert(!hasShuffle(j5),
        s"bucketed DML must preserve SPJ:\n${finalPlan(j5)}")
      GraftSql.execute(spark,
        "INSERT OVERWRITE gbk.a SELECT * FROM gbk_sa")
      val j6 = spark.sql(
        "SELECT a.id FROM gbk.a a JOIN gbk.b b ON a.id = b.id")
      assert(j6.count() == 50)
      assert(!hasShuffle(j6),
        s"bucketed INSERT OVERWRITE must preserve SPJ:\n${finalPlan(j6)}")
      Seq("a", "b").foreach(t =>
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbk.$t"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucket pruning: an equality lookup on the bucket key reads one bucket's files") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_bkp_wh_").toString
    spark.conf.set("spark.sql.catalog.gbp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbp.warehouse", wh)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gbp.t")
    GraftSql.execute(spark,
      """CREATE TABLE gbp.t (id BIGINT, v STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
    spark.range(0, 512).selectExpr("id", "concat('v', id) AS v")
      .createOrReplaceTempView("gbp_src")
    GraftSql.execute(spark, "INSERT INTO gbp.t SELECT * FROM gbp_src")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectWithSubqueries {
        case s: BatchScanExec => s }
        .map(_.metrics("manifestFilesRead").value).sum
    }
    val all = filesRead(spark.sql("SELECT id FROM gbp.t"))
    assert(all == 8, s"expected 8 bucket files, read $all")
    // point lookup: ONE bucket's file planned, value still found
    val one = spark.sql("SELECT v FROM gbp.t WHERE id = 137")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("v137"))
    assert(filesRead(spark.sql("SELECT v FROM gbp.t WHERE id = 137")) == 1)
    // IN-list: at most |values| buckets
    val inl = spark.sql("SELECT v FROM gbp.t WHERE id IN (3, 137, 500)")
    assert(inl.count() == 3)
    assert(filesRead(inl) <= 3)
    GraftSql.execute(spark, "DROP TABLE IF EXISTS gbp.t")
  }

  test("retention DELETE: stats-covered dirs drop with ZERO data-file reads") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.{Sinks, StatsSinks, TxnManifest}
    val base = java.nio.file.Files.createTempDirectory("graft_ret_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/manifest.tsv")
    // three disjoint id bands, one dir each — stats bounds decide
    // every dir: two fully covered by the predicate, one untouched
    for ((lo, i) <- Seq(0, 1000, 2000).zipWithIndex) {
      StatsSinks.appendBatchStats(
        spark.range(lo, lo + 1000).selectExpr("id", "concat('p', id) AS v"),
        root, i)
      man.commit(i, Seq(s"$root/batch=$i"))
    }
    GraftSqlTables.register("ret_t", GraftSqlTables.Entry(root,
      s"$base/manifest.tsv", keys = Seq("id")))
    val recordsRead = RecordsRead.during(spark) {
      GraftSql.execute(spark, "DELETE FROM ret_t WHERE id < 2000")
    }
    assert(recordsRead == 0,
      s"retention delete read ${recordsRead} records — expected a " +
        "metadata-only commit")
    // the swap un-named the two covered dirs in ONE commit
    val dirs = man.committedDirs(root)
    assert(!dirs.contains(s"$root/batch=0") && !dirs.contains(s"$root/batch=1"),
      dirs.toString)
    assert(dirs.contains(s"$root/batch=2") && dirs.contains(s"$root/batch=3"),
      dirs.toString)
    val left = Sinks.readCommitted(spark, root, man)
    assert(left.count() == 1000)
    assert(left.agg(min($"id")).collect().head.getLong(0) == 2000L)
    // a MIXED predicate falls back to the row-level path and still
    // answers correctly (the fast path must never approximate)
    GraftSql.execute(spark, "DELETE FROM ret_t WHERE id < 2500")
    assert(Sinks.readCommitted(spark, root, man).count() == 500)
    GraftSqlTables.unregister("ret_t")
  }

  test("bucketed × columnMapping × DV: rename + DV delete/update keep SPJ zero-exchange") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbc_wh_").toString
    spark.conf.set("spark.sql.catalog.gbc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbc.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbc.t1")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbc.t2")
      // INT keys: the retype-refusal edge below needs a key that HAS
      // a wider type to attempt (murmur3(int) ≠ murmur3(bigint))
      GraftSql.execute(spark,
        """CREATE TABLE gbc.t1 (id INT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id',
          |  'columnMapping' = 'true', 'deletionVectors' = 'true')
          |""".stripMargin)
      GraftSql.execute(spark,
        """CREATE TABLE gbc.t2 (id INT, w STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      spark.range(0, 100).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("gbc_s1")
      spark.range(50, 150).selectExpr("id", "concat('w', id) AS w")
        .createOrReplaceTempView("gbc_s2")
      GraftSql.execute(spark, "INSERT INTO gbc.t1 SELECT * FROM gbc_s1")
      GraftSql.execute(spark, "INSERT INTO gbc.t2 SELECT * FROM gbc_s2")
      // the BUCKET KEY renames — metadata only: the spec follows the
      // logical name, markers already carry the immutable physical id
      spark.sql("ALTER TABLE gbc.t1 RENAME COLUMN id TO key_id")
      spark.range(1000, 1008)
        .selectExpr("id AS key_id", "concat('n', id) AS v")
        .createOrReplaceTempView("gbc_s3")
      GraftSql.execute(spark, "INSERT INTO gbc.t1 SELECT * FROM gbc_s3")
      // DV DELETE moves no rows (no file rewritten — the layout holds
      // trivially); DV UPDATE appends a bucket-routed version batch
      GraftSql.execute(spark, "DELETE FROM gbc.t1 WHERE key_id = 60")
      GraftSql.execute(spark, "UPDATE gbc.t1 SET v = 'upd' WHERE key_id = 61")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val j = spark.sql(
        """SELECT a.key_id, a.v, b.w FROM gbc.t1 a JOIN gbc.t2 b
          |ON a.key_id = b.id""".stripMargin)
      val got = j.collect().map(r => r.getInt(0).toLong -> r.getString(1)).toMap
      assert(!got.contains(60L), "DV-deleted row resurfaced")
      assert(got(61L) == "upd", s"DV update lost: ${got.get(61L)}")
      assert(j.count() == 49) // 50..99 minus deleted 60
      assert(!finalPlan(j).toString.contains("Exchange hashpartitioning"),
        s"bucketed × mapped × DV must keep SPJ:\n${finalPlan(j)}")
      // markers record the EXPLICIT file → bucket map (round-9 ADVICE:
      // bucket identity must not hang on part-file naming conventions)
      val marker = graft.util.AtomicText.readLines(s"$wh/t1/batch=0/_bucketed")
      assert(marker.length > 1 && marker.tail.forall(_.contains("\t")),
        s"expected file map lines in marker, got: $marker")
      // retype of a bucket key (round 10): no longer refuses —
      // murmur3 hashes int 5 and bigint 5 differently, so the widen
      // bumps the layout GENERATION: stale markers (old gen header)
      // degrade the report to a shuffle, and OPTIMIZE heals every
      // dir hashed under the widened type and stamps the new gen
      spark.sql("ALTER TABLE gbc.t1 ALTER COLUMN key_id TYPE BIGINT")
      def agg1() = spark.sql(
        "SELECT key_id, count(*) AS c FROM gbc.t1 GROUP BY key_id")
      val degraded = agg1()
      assert(degraded.count() == 107) // 100 + 8 inserted - 1 DV-deleted
      assert(finalPlan(degraded).toString.contains("Exchange hashpartitioning"),
        s"stale-generation markers must degrade, not lie:\n${finalPlan(degraded)}")
      GraftSql.execute(spark, "OPTIMIZE gbc.t1")
      val healed = agg1()
      assert(healed.count() == 107)
      assert(!finalPlan(healed).toString.contains("Exchange hashpartitioning"),
        s"OPTIMIZE must heal the widened-key layout:\n${finalPlan(healed)}")
      // the healed markers carry the bumped generation in the header
      val liveDirs = new graft.sources.TxnManifest(s"$wh/t1/_commits")
        .committedDirs(s"$wh/t1")
        .filterNot(_.contains("/_dv/")) // DV sidecar dirs hold no rows
        .filter(dir => Option(new java.io.File(dir).listFiles()).toSeq
          .flatten.exists(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      val headers = liveDirs.map(dir => graft.util.AtomicText
        .readLines(s"$dir/_bucketed").headOption.getOrElse(""))
      assert(headers.nonEmpty && headers.forall(_.endsWith(";gen=1")),
        s"expected ';gen=1' marker headers after heal, got: " +
          liveDirs.zip(headers).mkString("; "))
      val eDrop = intercept[Exception](spark.sql(
        "ALTER TABLE gbc.t1 DROP COLUMN key_id"))
      // key_id is both the merge key and the bucket key — either
      // guard refusing keeps the routing column alive
      assert(exMessageChain(eDrop).exists(m =>
        m.contains("bucket") || m.contains("merge-key")), eDrop.getMessage)
      Seq("t1", "t2").foreach(t =>
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbc.$t"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("streaming sink into a bucketed table: epochs route, marker maps files, SPJ joins") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = java.nio.file.Files.createTempDirectory("graft_gbt_wh_").toString
    spark.conf.set("spark.sql.catalog.gbt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbt.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbt.t")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbt.r")
      GraftSql.execute(spark,
        """CREATE TABLE gbt.t (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      GraftSql.execute(spark,
        """CREATE TABLE gbt.r (id BIGINT, w STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      spark.range(0, 64).selectExpr("id", "concat('w', id) AS w")
        .createOrReplaceTempView("gbt_sr")
      GraftSql.execute(spark, "INSERT INTO gbt.r SELECT * FROM gbt_sr")
      // two streamed epochs: the write's required distribution routes
      // each epoch through the SAME repartition the statement INSERT
      // applies (partition id = bucket id, verified per row task-side)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val q = ms.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("gbt_ck_").toString)
        .toTable("gbt.t")
      try {
        ms.addData((0L until 32L).map(i => (i, s"v$i")): _*)
        q.processAllAvailable()
        ms.addData((32L until 48L).map(i => (i, s"v$i")): _*)
        q.processAllAvailable()
      } finally q.stop()
      // the epoch dirs carry the marker + explicit file → bucket map
      val marker = graft.util.AtomicText.readLines(s"$wh/t/batch=0/_bucketed")
      assert(marker.headOption.contains("8,id") && marker.length > 1,
        s"expected bucketed marker with file map, got: $marker")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val j = spark.sql(
        "SELECT t.id, t.v, r.w FROM gbt.t t JOIN gbt.r r ON t.id = r.id")
      assert(j.count() == 48, s"expected 48 joined rows, got ${j.count()}")
      assert(!finalPlan(j).toString.contains("Exchange hashpartitioning"),
        s"streaming-ingested bucketed table must keep SPJ:\n${finalPlan(j)}")
      Seq("t", "r").foreach(t =>
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbt.$t"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("streaming sink into a MULTI-key bucketed table keeps SPJ") {
    // the product-grid flat index has no connector-distribution
    // spelling, so multi-key epochs route TASK-side (the rolling
    // per-bucket writer) — this pins that a table ingested that way
    // still joins a same-bucketed batch table with ZERO exchanges
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = java.nio.file.Files.createTempDirectory("graft_gbm_wh_").toString
    spark.conf.set("spark.sql.catalog.gbm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbm.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbm.t")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbm.r")
      GraftSql.execute(spark,
        """CREATE TABLE gbm.t (id BIGINT, g BIGINT, v STRING)
          |USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id,g')""".stripMargin)
      GraftSql.execute(spark,
        """CREATE TABLE gbm.r (id BIGINT, g BIGINT, w STRING)
          |USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id,g')""".stripMargin)
      spark.range(0, 64)
        .selectExpr("id", "id % 5 AS g", "concat('w', id) AS w")
        .createOrReplaceTempView("gbm_sr")
      GraftSql.execute(spark, "INSERT INTO gbm.r SELECT * FROM gbm_sr")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Long, String)]
      val q = ms.toDF().toDF("id", "g", "v").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("gbm_ck_").toString)
        .toTable("gbm.t")
      try {
        ms.addData((0L until 32L).map(i => (i, i % 5, s"v$i")): _*)
        q.processAllAvailable()
        ms.addData((32L until 48L).map(i => (i, i % 5, s"v$i")): _*)
        q.processAllAvailable()
      } finally q.stop()
      val marker = graft.util.AtomicText.readLines(s"$wh/t/batch=0/_bucketed")
      assert(marker.headOption.contains("4,id,g") && marker.length > 1,
        s"expected multi-key marker with file map, got: $marker")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val j = spark.sql(
        "SELECT t.id, t.g, t.v, r.w FROM gbm.t t " +
          "JOIN gbm.r r ON t.id = r.id AND t.g = r.g")
      assert(j.count() == 48, s"expected 48 joined rows, got ${j.count()}")
      assert(!finalPlan(j).toString.contains("Exchange hashpartitioning"),
        s"multi-key streamed bucketed table must keep SPJ:\n${finalPlan(j)}")
      Seq("t", "r").foreach(t =>
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbm.$t"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("one-side SPJ shuffle: a plain side shuffles INTO the bucket function's partitioning") {
    // spark.sql.sources.v2.bucketing.shuffle.enabled: the planner may
    // hash the NON-bucketed side with OUR bucket function instead of
    // shuffling both sides — possible only because BucketBound
    // .produceResult computes the writer's exact routing. This test
    // is the produceResult/writer agreement witness: a divergence
    // would not shuffle rows to their matching bucket groups and the
    // join would DROP matches.
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbo_wh_").toString
    spark.conf.set("spark.sql.catalog.gbo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbo.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbo.f")
      GraftSql.execute(spark,
        """CREATE TABLE gbo.f (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      spark.range(0, 500).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("gbo_src")
      GraftSql.execute(spark, "INSERT INTO gbo.f SELECT * FROM gbo_src")
      // the plain side comes from parquet (no reported partitioning)
      spark.range(250, 750).selectExpr("id", "concat('p', id) AS p")
        .write.mode("overwrite").parquet(s"$wh/plain")
      val plain = spark.read.parquet(s"$wh/plain")
      val j = spark.table("gbo.f").join(plain, "id")
      assert(j.count() == 250, s"got ${j.count()}") // ids 250..499
      j.collect()
      val fin = (j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }).toString
      // exactly ONE side shuffles, and it shuffles by the FUNCTION
      // (TransformExpression over bucket), not plain hashpartitioning
      val exchanges = "Exchange ".r.findAllIn(fin).length
      assert(exchanges == 1, s"expected exactly one exchange:\n$fin")
      assert(fin.contains("keygroupedpartitioning") &&
          fin.contains("BucketBound"),
        s"the single exchange must key on the bucket function:\n$fin")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbo.f")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("large buckets split across files (maxRecordsPerFile): map stays sound, SPJ holds") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbf_wh_").toString
    spark.conf.set("spark.sql.catalog.gbf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbf.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // at 100 TB one file per bucket would be enormous — a task's
    // output SPLITS across files (part-i-...-c000/c001) and the
    // partition-index prefix keeps every piece on its bucket
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "60")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbf.t")
      GraftSql.execute(spark,
        """CREATE TABLE gbf.t (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id')""".stripMargin)
      spark.range(0, 400).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("gbf_src")
      GraftSql.execute(spark, "INSERT INTO gbf.t SELECT * FROM gbf_src")
      val marker = graft.util.AtomicText.readLines(s"$wh/t/batch=0/_bucketed")
      assert(marker.length > 5, // > 4 file lines: buckets split
        s"expected multi-file buckets in the map, got: $marker")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val g = spark.sql("SELECT id, count(*) AS c FROM gbf.t GROUP BY id")
      assert(g.count() == 400)
      assert(!finalPlan(g).toString.contains("Exchange hashpartitioning"),
        s"split-bucket agg must keep SPJ:\n${finalPlan(g)}")
      // point lookup prunes to ONE bucket's file set (≤ its pieces)
      val one = spark.sql("SELECT v FROM gbf.t WHERE id = 137")
      assert(one.collect().map(_.getString(0)).toSeq == Seq("v137"))
      one.collect()
      val files = one.queryExecution.executedPlan.collectWithSubqueries {
        case s: BatchScanExec => s }
        .map(_.metrics("manifestFilesRead").value).sum
      val total = marker.length - 1
      assert(files < total, s"lookup read $files of $total files")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbf.t")
    } finally {
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("REBUCKET: ALTER bucketBy degrades to shuffle, OPTIMIZE heals into the new width") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_grb_wh_").toString
    spark.conf.set("spark.sql.catalog.grb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grb.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS grb.t")
      GraftSql.execute(spark,
        """CREATE TABLE grb.t (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id')""".stripMargin)
      spark.range(0, 300).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("grb_src")
      GraftSql.execute(spark, "INSERT INTO grb.t SELECT * FROM grb_src")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      def agg() = spark.sql("SELECT id, count(*) AS c FROM grb.t GROUP BY id")
      assert(!finalPlan(agg()).toString.contains("Exchange hashpartitioning"))
      // the table grew: double the buckets. Old markers mismatch the
      // new spec — the report DEGRADES (correct results, shuffled)
      spark.sql("ALTER TABLE grb.t SET TBLPROPERTIES ('bucketBy' = '8,id')")
      val degraded = agg()
      assert(degraded.count() == 300)
      assert(finalPlan(degraded).toString.contains("Exchange hashpartitioning"),
        s"stale markers must degrade, not lie:\n${finalPlan(degraded)}")
      // new writes route under the NEW spec immediately
      spark.range(1000, 1010).selectExpr("id", "concat('n', id) AS v")
        .createOrReplaceTempView("grb_src2")
      GraftSql.execute(spark, "INSERT INTO grb.t SELECT * FROM grb_src2")
      // OPTIMIZE heals everything into the 8-wide grid
      GraftSql.execute(spark, "OPTIMIZE grb.t")
      val healed = agg()
      assert(healed.count() == 310)
      assert(!finalPlan(healed).toString.contains("Exchange hashpartitioning"),
        s"OPTIMIZE must heal into the new width:\n${finalPlan(healed)}")
      // superseded dirs stay on disk until vacuum — count the
      // manifest-NAMED view only
      val live = new graft.sources.TxnManifest(s"$wh/t/_commits")
        .committedDirs(s"$wh/t")
      val files = live.flatMap(d => new java.io.File(d).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".")).toSeq)
      assert(files.size == 8,
        s"expected 8 live bucket files after rebucket, got ${files.size}")
      // UNBUCKET serves as plain (and refuses nothing)
      spark.sql("ALTER TABLE grb.t UNSET TBLPROPERTIES ('bucketBy')")
      assert(agg().count() == 310)
      GraftSql.execute(spark, "DROP TABLE IF EXISTS grb.t")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("UNSET -> widen -> re-SET bucketBy cannot resurrect pre-widen markers") {
    // the adversarial cycle for the layout generation: while
    // UNbucketed the markers survive on disk; a widen in that state
    // still bumps the stored counter, so the later re-SET renders a
    // gen>=1 header the narrow-type-era markers can never match —
    // the scan degrades instead of silently mis-grouping joins
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gcy_wh_").toString
    spark.conf.set("spark.sql.catalog.gcy", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcy.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gcy.t")
      GraftSql.execute(spark,
        """CREATE TABLE gcy.t (id INT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id',
          |  'columnMapping' = 'true')""".stripMargin)
      spark.range(0, 50).selectExpr("CAST(id AS INT) AS id",
          "concat('v', id) AS v")
        .createOrReplaceTempView("gcy_src")
      GraftSql.execute(spark, "INSERT INTO gcy.t SELECT * FROM gcy_src")
      spark.sql("ALTER TABLE gcy.t UNSET TBLPROPERTIES ('bucketBy')")
      spark.sql("ALTER TABLE gcy.t ALTER COLUMN id TYPE BIGINT")
      spark.sql("ALTER TABLE gcy.t SET TBLPROPERTIES ('bucketBy' = '4,id')")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      def agg() = spark.sql("SELECT id, count(*) AS c FROM gcy.t GROUP BY id")
      val resurrect = agg()
      assert(resurrect.count() == 50)
      assert(finalPlan(resurrect).toString
          .contains("Exchange hashpartitioning"),
        "pre-widen markers matched a post-widen spec — the layout " +
          s"generation failed:\n${finalPlan(resurrect)}")
      GraftSql.execute(spark, "OPTIMIZE gcy.t")
      val healed = agg()
      assert(healed.count() == 50)
      assert(!finalPlan(healed).toString.contains("Exchange hashpartitioning"),
        s"OPTIMIZE must heal into the re-set layout:\n${finalPlan(healed)}")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gcy.t")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed SHALLOW CLONE keeps SPJ: inherited markers, divergence, materialization") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbc2_wh_").toString
    spark.conf.set("spark.sql.catalog.gbc2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbc2.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (t <- Seq("src", "dim", "fork")) GraftSql.execute(spark,
        s"DROP TABLE IF EXISTS gbc2.$t")
      GraftSql.execute(spark,
        """CREATE TABLE gbc2.src (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      GraftSql.execute(spark,
        """CREATE TABLE gbc2.dim (id BIGINT, w STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '8,id')""".stripMargin)
      spark.range(0, 200).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("gbc2_s")
      spark.range(0, 200).selectExpr("id", "concat('w', id) AS w")
        .createOrReplaceTempView("gbc2_d")
      GraftSql.execute(spark, "INSERT INTO gbc2.src SELECT * FROM gbc2_s")
      GraftSql.execute(spark, "INSERT INTO gbc2.dim SELECT * FROM gbc2_d")
      GraftSql.execute(spark, "CREATE TABLE gbc2.fork SHALLOW CLONE gbc2.src")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      def spjJoin() = spark.sql(
        "SELECT f.id, f.v, d.w FROM gbc2.fork f JOIN gbc2.dim d ON f.id = d.id")
      // the ZERO-COPY fork inherits the layout: its join plans
      // exchange-free from the source's markers alone
      val j1 = spjJoin()
      assert(j1.count() == 200)
      assert(!finalPlan(j1).toString.contains("Exchange hashpartitioning"),
        s"clone must inherit SPJ:\n${finalPlan(j1)}")
      // divergence (insert + cross-root merge rewrite) stays routed
      spark.range(1000, 1010).selectExpr("id", "concat('n', id) AS v")
        .createOrReplaceTempView("gbc2_s2")
      GraftSql.execute(spark, "INSERT INTO gbc2.fork SELECT * FROM gbc2_s2")
      GraftSql.execute(spark, "UPDATE gbc2.fork SET v = 'u' WHERE id = 7")
      val j2 = spjJoin()
      val got = j2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(7L) == "u" && j2.count() == 200)
      assert(!finalPlan(j2).toString.contains("Exchange hashpartitioning"),
        s"clone divergence must keep SPJ:\n${finalPlan(j2)}")
      // the source never changed
      assert(spark.sql("SELECT v FROM gbc2.src WHERE id = 7")
        .collect().head.getString(0) == "v7")
      // materialization (bare OPTIMIZE) routes through the bucket
      // function — SPJ survives the flip to a plain table
      GraftSql.execute(spark, "OPTIMIZE gbc2.fork")
      val j3 = spjJoin()
      assert(j3.count() == 200)
      assert(!finalPlan(j3).toString.contains("Exchange hashpartitioning"),
        s"materialized clone must keep SPJ:\n${finalPlan(j3)}")
      for (t <- Seq("src", "dim", "fork")) GraftSql.execute(spark,
        s"DROP TABLE IF EXISTS gbc2.$t")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed OPTIMIZE is INCREMENTAL: prior generations stay byte-untouched") {
    import graft.plans.{GraftCatalog, GraftSql}
    import graft.sources.TxnManifest
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbi_wh_").toString
    spark.conf.set("spark.sql.catalog.gbi", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbi.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbi.t")
      GraftSql.execute(spark,
        """CREATE TABLE gbi.t (id BIGINT, v STRING) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id')""".stripMargin)
      for (i <- 0 until 3) {
        spark.range(i * 100, (i + 1) * 100)
          .selectExpr("id", "concat('v', id) AS v")
          .createOrReplaceTempView("gbi_src")
        GraftSql.execute(spark, "INSERT INTO gbi.t SELECT * FROM gbi_src")
      }
      GraftSql.execute(spark, "OPTIMIZE gbi.t") // generation 1
      val man = new TxnManifest(s"$wh/t/_commits")
      val gen1 = man.committedDirs(s"$wh/t")
      assert(gen1.size == 1, gen1.toString)
      def filesOf(dir: String) = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified).toMap
      val gen1Files = filesOf(gen1.head)
      // more ingest + a FOREIGN raw append (no marker)
      spark.range(300, 400).selectExpr("id", "concat('v', id) AS v")
        .createOrReplaceTempView("gbi_src2")
      GraftSql.execute(spark, "INSERT INTO gbi.t SELECT * FROM gbi_src2")
      graft.sources.Sinks.appendBatch(
        Seq((400L, "raw")).toDF("id", "v"), s"$wh/t", 99)
      man.commit(99, Seq(s"$wh/t/batch=99"))
      GraftSql.execute(spark, "OPTIMIZE gbi.t") // generation 2: fresh only
      val after = man.committedDirs(s"$wh/t")
      assert(after.size == 2 && after.contains(gen1.head),
        s"generation 1 must survive untouched: $after")
      assert(filesOf(gen1.head) == gen1Files,
        "incremental OPTIMIZE rewrote a prior generation's bytes")
      // healed + layout intact: agg on the key plans exchange-free
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val g = spark.sql("SELECT id, count(*) AS c FROM gbi.t GROUP BY id")
      assert(g.count() == 401)
      assert(!finalPlan(g).toString.contains("Exchange hashpartitioning"),
        s"incremental OPTIMIZE must keep SPJ:\n${finalPlan(g)}")
      // a THIRD bare OPTIMIZE finds nothing fresh: no commit at all
      val v0 = man.version()
      GraftSql.execute(spark, "OPTIMIZE gbi.t")
      assert(man.version() == v0, "no-op OPTIMIZE must not commit")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbi.t")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed OPTIMIZE ZORDER BY: within-bucket sort keeps SPJ, each bucket file clustered") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbz_wh_").toString
    spark.conf.set("spark.sql.catalog.gbz", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbz.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbz.t")
      GraftSql.execute(spark,
        """CREATE TABLE gbz.t (id BIGINT, v BIGINT) USING `graft-manifest`
          |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id')""".stripMargin)
      // v arrives in DESCENDING order — the within-bucket sort must
      // visibly reorder it
      spark.range(0, 400).selectExpr("id", "399 - id AS v")
        .orderBy(org.apache.spark.sql.functions.desc("v"))
        .createOrReplaceTempView("gbz_src")
      GraftSql.execute(spark, "INSERT INTO gbz.t SELECT * FROM gbz_src")
      GraftSql.execute(spark, "OPTIMIZE gbz.t ZORDER BY (v)")
      // every compacted bucket file is internally sorted by v (row
      // groups carry tight min/max on the z-column)
      val dirs = new java.io.File(s"$wh/t").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.toString).sorted
      val files = new java.io.File(dirs.last).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
      assert(files.length == 4, files.map(_.getName).mkString(","))
      files.foreach { f =>
        val vs = spark.read.parquet(f.toString).select("v")
          .collect().map(_.getLong(0)).toSeq
        assert(vs == vs.sorted, s"${f.getName} not z-sorted: ${vs.take(8)}")
      }
      // ... and the layout survives: the aggregation on the bucket
      // key still plans exchange-free
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val g = spark.sql("SELECT id, count(*) AS c FROM gbz.t GROUP BY id")
      assert(g.count() == 400)
      assert(!finalPlan(g).toString.contains("Exchange hashpartitioning"),
        s"within-bucket zorder must keep SPJ:\n${finalPlan(g)}")
      GraftSql.execute(spark, "DROP TABLE IF EXISTS gbz.t")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("multi-column bucketBy: composite-key SPJ join plans with no shuffle") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbm_wh_").toString
    spark.conf.set("spark.sql.catalog.gbm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbm.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (t <- Seq("a", "b")) {
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbm.$t")
        GraftSql.execute(spark,
          s"""CREATE TABLE gbm.$t (k1 BIGINT, k2 STRING, v BIGINT)
             |USING `graft-manifest`
             |TBLPROPERTIES ('keys' = 'k1,k2', 'bucketBy' = '4,k1,k2')
             |""".stripMargin)
      }
      spark.range(0, 200)
        .selectExpr("id % 20 AS k1", "concat('g', id % 7) AS k2", "id AS v")
        .createOrReplaceTempView("gbm_src")
      GraftSql.execute(spark,
        "INSERT INTO gbm.a SELECT k1, k2, sum(v) FROM gbm_src GROUP BY k1, k2")
      GraftSql.execute(spark,
        "INSERT INTO gbm.b SELECT k1, k2, count(*) FROM gbm_src GROUP BY k1, k2")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
      }
      val j = spark.sql(
        """SELECT a.k1, a.k2, a.v, b.v AS n FROM gbm.a a JOIN gbm.b b
          |ON a.k1 = b.k1 AND a.k2 = b.k2""".stripMargin)
      val expect = spark.sql(
        """SELECT count(*) FROM (SELECT DISTINCT k1, k2 FROM gbm_src)""")
        .collect().head.getLong(0)
      assert(j.count() == expect, s"expected $expect rows, got ${j.count()}")
      assert(!finalPlan(j).toString.contains("Exchange hashpartitioning"),
        s"composite-key SPJ expected no exchange:\n${finalPlan(j)}")
      // PARTIAL-key pruning — the product grid's bonus over a
      // composite hash: equality on ONE of the two keys drops every
      // file whose grid vector has that component elsewhere (≤ n of
      // the n² groups survive)
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectWithSubqueries {
          case s: BatchScanExec => s }
          .map(_.metrics("manifestFilesRead").value).sum
      }
      val all = filesRead(spark.sql("SELECT k1 FROM gbm.a"))
      val partial = filesRead(spark.sql("SELECT k2 FROM gbm.a WHERE k1 = 3"))
      assert(partial <= all / 4 && partial > 0,
        s"one-key equality read $partial of $all files")
      val both = filesRead(spark.sql(
        "SELECT v FROM gbm.a WHERE k1 = 3 AND k2 = 'g3'"))
      assert(both <= partial, s"two-key equality read $both > $partial")
      assert(spark.sql("SELECT v FROM gbm.a WHERE k1 = 3 AND k2 = 'g3'")
        .count() >= 1)
      Seq("a", "b").foreach(t =>
        GraftSql.execute(spark, s"DROP TABLE IF EXISTS gbm.$t"))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("runtime file pruning within bucket groups: filtered dim join reads a file subset, groups preserved") {
    import graft.plans.{GraftCatalog, GraftSql}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val wh = java.nio.file.Files.createTempDirectory("graft_gbr_wh_").toString
    val s2 = spark.newSession()
    import s2.implicits._
    s2.conf.set("spark.sql.catalog.gbr", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.gbr.warehouse", wh)
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // dim must broadcast (the runtime filter's source); fact must not
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "32768")
    GraftSql.execute(s2, "DROP TABLE IF EXISTS gbr.f")
    GraftSql.execute(s2,
      """CREATE TABLE gbr.f (id BIGINT, payload STRING) USING `graft-manifest`
        |TBLPROPERTIES ('keys' = 'id', 'bucketBy' = '4,id')""".stripMargin)
    // 4 batches with DISJOINT id ranges: each bucket group spans 4
    // files whose sidecar bounds only runtime join keys can separate
    for (b <- 0 until 4) {
      (b * 1000 until (b + 1) * 1000)
        .map(i => (i.toLong, "p" * 100 + i)).toDF("id", "payload")
        .createOrReplaceTempView("gbr_src")
      GraftSql.execute(s2, "INSERT INTO gbr.f SELECT * FROM gbr_src")
    }
    (0 until 200).map(i => (i.toLong, if (i < 5) "keep" else "drop"))
      .toDF("id", "tag").write.parquet(s"$wh/dim")
    val dim = s2.read.parquet(s"$wh/dim").filter($"tag" === "keep")
    val joined = s2.table("gbr.f").join(dim, "id")
    // correctness through the re-planned (pruned, group-preserving)
    // partitions — BatchScanExec itself validates the key set did not
    // change, so a green run IS the partitioning-soundness witness
    assert(joined.collect().length == 5)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    val fin = joined.queryExecution.executedPlan
    assert(fin.toString.contains("dynamicpruningexpression"),
      s"no runtime filter on the bucketed scan in:\n$fin")
    val scans = allNodes(fin).collect {
      case s: BatchScanExec if s.toString.contains("GraftManifestScan") => s
    }
    assert(scans.nonEmpty, s"no manifest scan in:\n$fin")
    // keys 0..4 live in the FIRST insert's files only: the runtime
    // IN-set + sidecar bounds prune the other 3 batches' files from
    // every bucket group (16 files total, ≤4 survive)
    val files = scans.head.metrics("manifestFilesRead").value
    assert(files <= 4, s"expected ≤4 fact files read after in-group " +
      s"runtime pruning, got $files; plan:\n$fin")
    GraftSql.execute(s2, "DROP TABLE IF EXISTS gbr.f")
  }

  test("DSIR weights: the only data shuffle is the 256-bucket histogram") {
    // scoring must be a per-row fold over a BROADCAST weight map —
    // any exchange keyed on doc_id / token would mean the corpus is
    // being shuffled to score itself
    val plan = graft.SparkEntry.queries("t21_dsir_weights")(spark, sf)
      .queryExecution.sparkPlan
    val ex = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
    // whatever exchanges plan (the histogram's h-keyed pair may sit
    // inside the broadcast stage), NONE may key on doc_id — and the
    // scoring side must reach the scan through a broadcast, never a
    // shuffled join
    assert(!ex.exists(_.outputPartitioning.toString.contains("doc_id")),
      s"a doc_id shuffle snuck into DSIR scoring:\n$plan")
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    assert(plan.collectWithSubqueries {
      case j: SortMergeJoinExec => j }.isEmpty,
      s"DSIR scoring must not sort-merge join the corpus:\n$plan")
  }

  test("sim4 IVF search broadcasts centroids and never goes cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = graft.SparkEntry.queries("sim4_ivf_search")(spark, sf).queryExecution.sparkPlan
    val cart = plan.collectWithSubqueries { case c: CartesianProductExec => c }
    assert(cart.isEmpty, s"cartesian product in IVF plan:\n$plan")
    // the centroid probe is the broadcast join (|labels| rows); the
    // corpus-side cluster join keys on cl and must NOT be a loop join
    val bhj = plan.collectWithSubqueries { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"expected broadcast centroid probe:\n$plan")
    val loops = plan.collectWithSubqueries {
      case l: BroadcastNestedLoopJoinExec => l }
    assert(loops.size <= 1, // the qs x cents probe may plan as BNLJ (no key)
      s"unexpected loop joins:\n$plan")
  }

  test("denseIds matches row_number values with no single-partition stage") {
    val df = (1L to 10000L).map(i => ((i * 2654435761L) % 99991L, i))
      .toDF("k", "orig").filter($"orig" % 3 =!= 0)
    val viaWindow = df.withColumn("new_id",
      row_number().over(Window.orderBy($"k", $"orig")).cast("long"))
      .orderBy("new_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaIds = Ids.denseIds(df, Seq($"k".asc, $"orig".asc), "new_id")
      .orderBy("new_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaIds.sameElements(viaWindow))
    // the static plan must range-partition over >1 partition — the
    // whole point of replacing the global row_number window. (Checked
    // pre-AQE: at runtime AQE rightly coalesces this tiny shuffle to
    // one partition, but the PLAN scales with shuffle.partitions.)
    val exch = df.repartitionByRange($"k".asc, $"orig".asc)
      .queryExecution.sparkPlan.collectWithSubqueries {
        case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions
      }
    assert(exch.nonEmpty && exch.forall(_ > 1),
      s"expected multi-partition range exchange, got $exch")
  }

  test("packShards fails loudly when a bucket's seq would overflow its id range") {
    import graft.sources.Layout
    // 2 docs of 1e12 tokens in one bucket with budget 1 → seq ~ 1e12,
    // which would wrap into the next bucket's flattened id range and
    // silently merge shards; the write must refuse instead
    val docs = Seq((0L, 1000000000000L), (2L, 1000000000000L))
      .toDF("doc_id", "n_tokens")
    val e = intercept[Exception] {
      Layout.packShards(docs, "doc_id", col("n_tokens"),
        numBuckets = 2, budgetTokens = 1L).collect()
    }
    assert(e.getMessage.contains("packShards"), s"got: $e")
    // in-range packing still works: both docs land in bucket 0 shard 0
    val ok = Layout.packShards(docs, "doc_id", col("n_tokens"),
      numBuckets = 2, budgetTokens = 10000000000000L)
      .select("shard_id").as[Long].collect()
    assert(ok.toSeq == Seq(0L, 0L))
  }

  test("z-order layout clusters BOTH dimensions; morton key matches reference") {
    import graft.sources.Layout
    // expression == Scala twin on random coordinates
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextInt(1 << 30).toLong, rnd.nextInt(1 << 30).toLong))
    val got = pts.toDF("a", "b")
      .select(Layout.mortonKey($"a", $"b")).collect().map(_.getLong(0))
    assert(got.sameElements(pts.map { case (a, b) => Layout.mortonKeyRef(a, b) }))

    // layout payoff: a 128x128 grid into 8 files. Linear sort on x
    // leaves each file spanning y's FULL range (no pruning on y);
    // z-order gives each file a small (x, y) rectangle.
    val tmp = java.nio.file.Files.createTempDirectory("zorder_").toString
    val grid = (for { x <- 0 until 128; y <- 0 until 128 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    grid.repartitionByRange(8, $"x").sortWithinPartitions($"x")
      .write.parquet(s"$tmp/linear")
    Layout.writeZOrdered(grid, s"$tmp/zorder", $"x", $"y", 8)
    def avgSpread(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("w"))
        .agg(avg($"w")).first().getDouble(0)
    val linY = avgSpread(s"$tmp/linear", "y")
    val zY   = avgSpread(s"$tmp/zorder", "y")
    val zX   = avgSpread(s"$tmp/zorder", "x")
    assert(linY > 120.0, s"linear files should span y fully, got $linY")
    assert(zY < linY / 2, s"z-order files must cluster y: $zY vs $linY")
    assert(zX < 128.0, s"z-order keeps x clustered too, got $zX")
  }

  test("3-column z-order: key matches reference, every dimension clusters") {
    import graft.sources.Layout
    val rnd = new scala.util.Random(11)
    val bits = 63 / 3 // 21 bits per column
    val pts = Seq.fill(200)((rnd.nextInt(1 << bits).toLong,
      rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong))
    val got = pts.toDF("a", "b", "c")
      .select(Layout.mortonKeyN(Seq($"a", $"b", $"c")))
      .collect().map(_.getLong(0))
    assert(got.sameElements(pts.map(p =>
      Layout.mortonKeyNRef(Seq(p._1, p._2, p._3)))))
    // keys stay positive (63-bit budget)
    assert(got.forall(_ >= 0))
    // out-of-range input fails loudly, not silently mis-keyed
    intercept[Exception] {
      Seq(((1L << bits) + 1, 0L, 0L)).toDF("a", "b", "c")
        .select(Layout.mortonKeyN(Seq($"a", $"b", $"c"))).collect()
    }

    // a 32^3 cube into 8 files: every dimension's per-file spread
    // shrinks well below the full range
    val tmp = java.nio.file.Files.createTempDirectory("zorder3_").toString
    val cube = (for { x <- 0 until 32; y <- 0 until 32; z <- 0 until 32 }
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    Layout.writeZOrderedN(cube, s"$tmp/z3", Seq($"x", $"y", $"z"), 8)
    def avgSpread(c: String): Double =
      spark.read.parquet(s"$tmp/z3")
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("w"))
        .agg(avg($"w")).first().getDouble(0)
    for (c <- Seq("x", "y", "z"))
      assert(avgSpread(c) < 24.0, s"$c spread ${avgSpread(c)} not clustered")
  }

  test("binned range join == naive inequality join, with an equi-join plan") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // overlapping, empty, and bin-straddling intervals; points on
    // boundaries (start inclusive, end exclusive)
    val points = (0L to 400L by 7L).map(p => (p, s"p$p")).toDF("p", "ptag")
    val intervals = Seq(
      (1L, 0L, 100L), (2L, 50L, 150L),   // overlap
      (3L, 150L, 150L), (4L, 200L, 190L), // empty / inverted: match nothing
      (5L, 95L, 305L),                    // straddles several bins
      (6L, 399L, 400L)).toDF("iid", "s", "e")
    val binned = graft.ops.RangeJoin.binned(
      points, col("p"), intervals, col("s"), col("e"), binWidth = 100L)
    val naive = points.join(intervals, col("p") >= col("s") && col("p") < col("e"))
    val a = binned.select("p", "iid").orderBy("p", "iid").collect().map(_.toSeq)
    val b = naive.select("p", "iid").orderBy("p", "iid").collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
    // boundary semantics: 0 is in [0,100), 105 is not; 399 in [399,400)
    assert(a.contains(Seq(0L, 1L)) && !a.contains(Seq(105L, 1L)))
    assert(a.contains(Seq(399L, 6L)))
    // the whole point of binning: an equi-join plan, not a loop product
    val plan = binned.queryExecution.sparkPlan
    val loops = plan.collectWithSubqueries {
      case l: BroadcastNestedLoopJoinExec => l
      case c: CartesianProductExec => c
    }
    assert(loops.isEmpty, s"range join planned as a loop product:\n$plan")
  }

  test("bloom-pruned semi join == plain semi join; filter sits before the join") {
    // parquet inputs, not LocalRelations: ConvertToLocalRelation would
    // eagerly evaluate the bloom predicate at optimization time and the
    // plan-shape assertion below would have nothing to see
    val tmp = java.nio.file.Files.createTempDirectory("bloom_spec_").toString
    (1L to 200L).filter(_ % 3 == 0).map(k => Tuple1(s"k$k")).toDF("h")
      .write.parquet(s"$tmp/keys")
    (1L to 2000L).map(i => (i, s"k${i % 400}")).toDF("id", "fh")
      .write.parquet(s"$tmp/fact")
    val keys = spark.read.parquet(s"$tmp/keys")
    val fact = spark.read.parquet(s"$tmp/fact")
    val pruned = graft.ops.BloomJoin.semiJoinPruned(
      fact, col("fh"), keys, col("h"), expectedItems = 1000L)
    val plain = fact.join(keys, col("fh") === col("h"), "left_semi")
    val a = pruned.select("id").orderBy("id").collect().map(_.getLong(0))
    val b = plain.select("id").orderBy("id").collect().map(_.getLong(0))
    assert(a.nonEmpty && a.sameElements(b))
    // the bloom predicate must appear as a Filter in the physical plan
    // (scan-side pruning), not vanish into the join
    val plan = pruned.queryExecution.executedPlan
    assert(plan.toString.contains("might_contain"),
      s"expected a bloom might_contain filter in:\n$plan")
  }

  test("dedup-index probe join has no Exchange on the stored side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the property that makes the index INCREMENTAL: per-batch probe
    // cost must be O(batch), so the stored band/set tables (bucketed
    // on their join keys) must stream into the join WITHOUT an
    // exchange — only the new batch's side may shuffle
    val tmp = java.nio.file.Files.createTempDirectory("idx_plan_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    graft.text.DedupIndex.ingestBatch(docs, "doc_id", "text", tmp, 0)
    graft.text.DedupIndex.ingestBatch(
      docs.select(($"doc_id" + 500000L).as("doc_id"), $"text"),
      "doc_id", "text", tmp, 1)
    // non-constant band, or constant-folding turns the band join key
    // into a stored-side filter and the assertion tests the wrong join
    val probeBands = docs.limit(50)
      .select(md5($"text").as("key"), ($"doc_id" % 4).cast("int").as("band"),
        $"doc_id".as("x"))
    val probePairs = docs.limit(50).select($"doc_id".as("a"))
    def check(phase: String): Unit = {
      val st = graft.text.DedupIndex.tables(tmp).stored(spark, excludeBatch = 99).get
      val (bands, sets) = (st("bands"), st("sets"))
      for ((name, joined) <- Seq(
        "bands" -> probeBands.join(bands, Seq("band", "key")),
        "sets"  -> probePairs.join(sets.withColumnRenamed("id", "a"), Seq("a")))) {
        val plan = joined.queryExecution.executedPlan
        val storedShuffles = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec if e.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains(tmp))
            case _ => false
          } => e
        }
        assert(storedShuffles.isEmpty,
          s"$phase/$name: stored index side is shuffled — bucketing lost:\n$plan")
        // and the join is keyed, not broadcast-degraded to a loop
        val anyShuffle = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec => e }
        assert(anyShuffle.nonEmpty,
          s"$phase/$name: expected the probe side to shuffle to the bucket count:\n$plan")
      }
    }
    // exchange placement happens in EnsureRequirements → must read the
    // executedPlan, with AQE off so it is not an opaque adaptive leaf
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      check("ingested")
      // OPTIMIZE must preserve the property: the generation partition
      // is written THROUGH the bucketed table, so the folded index
      // still streams into probes exchange-free
      assert(graft.text.DedupIndex.compact(spark, tmp),
        "compact must fold the two batches")
      assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/bands") == Set(-1)
        && graft.util.IndexTables.fsBatches(spark, s"$tmp/sets") == Set(-1),
        "both tables must hold exactly the generation partition")
      check("compacted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("span-index probes: stored anchors/adf tables never shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // dd22's O(batch) contract: stored anchors (bucketed on h) and
    // the per-batch df table stream into the probe joins without an
    // exchange — only the new batch's side may shuffle
    val tmp = java.nio.file.Files.createTempDirectory("spidx_plan_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", split($"text", " ").as("w"))
    graft.text.SpanIndex.ingestBatch(docs, "doc_id", "w", tmp, 0)
    val st = graft.text.SpanIndex.tables(tmp).stored(spark, excludeBatch = 99).get
    val (anchors, adf) = (st("anchors"), st("adf"))
    val probeH = docs.limit(50).select(md5($"doc_id".cast("string")).as("h"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, joined) <- Seq(
        "anchors" -> probeH.join(anchors, Seq("h")),
        "adf" -> probeH.join(adf, Seq("h"), "left_semi"))) {
        val plan = joined.queryExecution.executedPlan
        val storedShuffles = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec if e.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains(tmp))
            case _ => false
          } => e
        }
        assert(storedShuffles.isEmpty,
          s"$name: stored index side is shuffled — bucketing lost:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("cluster-index probes: stored assign/members tables never shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // dd24's O(batch) contract: the id → canonical lookup (assign,
    // bucketed on id) and the loser-membership lookup (members,
    // bucketed on cid) stream into their joins without a stored-side
    // exchange — only the batch's touched-id / loser-cid side moves
    val tmp = java.nio.file.Files.createTempDirectory("clidx_plan_").toString
    val pairs = spark.range(0, 400)
      .select($"id".as("a"), ($"id" + 1000L).as("b"))
    graft.text.ClusterIndex.ingestBatch(pairs, tmp, 0)
    val st = graft.text.ClusterIndex.tables(tmp).stored(spark, excludeBatch = 99).get
    val (assign, members) = (st("assign"), st("members"))
    val touched = spark.range(0, 50).select($"id")
    val losers = spark.range(0, 20).select($"id".as("cid"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, joined) <- Seq(
        "assign" -> touched.join(assign, Seq("id"), "left_semi"),
        "members" -> losers.join(members, Seq("cid")))) {
        val plan = joined.queryExecution.executedPlan
        val storedShuffles = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec if e.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains(tmp))
            case _ => false
          } => e
        }
        assert(storedShuffles.isEmpty,
          s"$name: stored index side is shuffled — bucketing lost:\n$plan")
      }
      // the latest-row window over the id-bucketed assign scan also
      // needs no exchange: the bucket distribution satisfies it
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy($"batch".desc)
      val latest = assign.join(touched, Seq("id"), "left_semi")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn" === 1)
      val wplan = latest.queryExecution.executedPlan
      val wshuffles = wplan.collectWithSubqueries {
        case e: ShuffleExchangeExec if e.exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(tmp))
          case _ => false
        } => e
      }
      assert(wshuffles.isEmpty,
        s"latest-row window re-shuffled the bucketed assign scan:\n$wplan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.text.ClusterIndex.dropIndex(spark, tmp)
    }
  }

  test("ann-index query: stored codes table never shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sim12's scale shape: the probe list and the ADC lookup table
    // broadcast (both tiny by construction), so the cl-bucketed codes
    // table — the only corpus-sized side — must stream into the scoring
    // join without an exchange
    import graft.sim.AnnIndex
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("annidx_plan_").toString
    AnnIndex.create(emb, "vec_id", "embedding", "label", tmp,
      m = 16, subDim = 4)
    AnnIndex.ingestBatch(emb, "vec_id", "embedding", "label", tmp, 0)
    val q = AnnIndex.query(spark, tmp,
      emb.filter($"vec_id" % 50 === 0), "vec_id", "embedding",
      k = 5, nprobe = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan
    val storedShuffles = plan.collectWithSubqueries {
      case e: ShuffleExchangeExec if e.exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(tmp))
        case _ => false
      } => e
    }
    assert(storedShuffles.isEmpty,
      s"stored codes side is shuffled:\n$plan")
    AnnIndex.dropIndex(spark, tmp)
  }

  test("phash-index probe join has no Exchange on the stored side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // same contract as the MinHash dedup index: per-batch probe cost
    // must be O(batch) — the stored band/hash tables (bucketed on
    // their join keys) stream into the join WITHOUT an exchange
    val tmp = java.nio.file.Files.createTempDirectory("phidx_plan_").toString
    val hashes = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as("id"), ($"doc_id" * 2654435761L % 4294967296L).as("hi"),
        ($"doc_id" * 97561L % 4294967296L).as("lo"))
    graft.multimodal.PhashIndex.ingestBatch(hashes, tmp, 0, bandBits = 8)
    val st = graft.multimodal.PhashIndex.tables(tmp).stored(spark, excludeBatch = 99).get
    val (bands, stHashes) = (st("bands"), st("hashes"))
    val probeBands = hashes.limit(50)
      .select(($"id" % 8).cast("int").as("bi"), ($"id" % 251).as("bv"),
        $"id".as("x"))
    val probePairs = hashes.limit(50).select($"id".as("id1"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, joined) <- Seq(
        "bands" -> probeBands.join(bands, Seq("bi", "bv")),
        "hashes" -> probePairs.join(
          stHashes.withColumnRenamed("id", "id1"), Seq("id1")))) {
        val plan = joined.queryExecution.executedPlan
        val storedShuffles = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec if e.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains(tmp))
            case _ => false
          } => e
        }
        assert(storedShuffles.isEmpty,
          s"$name: stored index side is shuffled — bucketing lost:\n$plan")
        val anyShuffle = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec => e }
        assert(anyShuffle.nonEmpty,
          s"$name: expected the probe side to shuffle to the bucket count:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("video phash-index probes: stored frame tables never shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the sequence-grain incremental index (dd21) must keep the same
    // O(batch) property: stored frame bands/hashes (bucketed on
    // their join keys) stream into per-batch probes exchange-free
    val tmp = java.nio.file.Files.createTempDirectory("vphidx_plan_").toString
    val frames = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".as("id"),
        ($"doc_id" % 4).cast("int").as("frame_idx"),
        ($"doc_id" * 2654435761L % 4294967296L).as("hi"),
        ($"doc_id" * 97561L % 4294967296L).as("lo"))
    graft.multimodal.PhashIndex.ingestVideoBatch(frames, tmp, 0, bandBits = 8)
    val st = graft.multimodal.PhashIndex.videoTables(tmp).stored(spark, excludeBatch = 99).get
    val (vbands, vframes) = (st("vbands"), st("vframes"))
    val probeBands = frames.limit(50)
      .select(($"id" % 8).cast("int").as("bi"), ($"id" % 251).as("bv"),
        $"id".as("x"), $"frame_idx".as("fx"))
    val probePairs = frames.limit(50).select($"id".as("id1"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, joined) <- Seq(
        "vbands" -> probeBands.join(vbands, Seq("bi", "bv")),
        "vframes" -> probePairs.join(
          vframes.withColumnRenamed("id", "id1"), Seq("id1")))) {
        val plan = joined.queryExecution.executedPlan
        val storedShuffles = plan.collectWithSubqueries {
          case e: ShuffleExchangeExec if e.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains(tmp))
            case _ => false
          } => e
        }
        assert(storedShuffles.isEmpty,
          s"$name: stored index side is shuffled — bucketing lost:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS bspec_left")
    spark.sql("DROP TABLE IF EXISTS bspec_right")
    // a previous JVM's catalog is gone but its warehouse dirs survive;
    // remove the physical locations or CREATE TABLE refuses
    for (t <- Seq("bspec_left", "bspec_right")) {
      val dir = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val l = (1L to 1000L).map(i => (i, s"l$i")).toDF("id", "lv")
    val r = (1L to 1000L).map(i => (i, i * 2)).toDF("id", "rv")
    Sinks.writeBucketed(l, "bspec_left", 4, Seq("id"))
    Sinks.writeBucketed(r, "bspec_right", 4, Seq("id"))
    val joined = spark.table("bspec_left")
      .join(spark.table("bspec_right"), Seq("id"))
    // force a non-broadcast plan so the bucketing is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collectWithSubqueries {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("DSv2 scan reports post-pruning statistics; small tables auto-broadcast") {
    import graft.sources.{StatsSinks, TxnManifest}
    val base = java.nio.file.Files.createTempDirectory("stats_man_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/_commits")
    // two batches with DISJOINT id ranges, so a pushed range filter
    // skips one of them entirely
    StatsSinks.appendBatchStats(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    StatsSinks.appendBatchStats(
      (1000L until 1100L).map(i => (i, s"v$i")).toDF("id", "v"), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    def load() = spark.read.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
    def scanBytes(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.sizeInBytes
      }.head
    // without stats a DSv2 relation reports the session default
    // (effectively infinite); with them, real file bytes
    val full = scanBytes(load())
    assert(full > 0 && full < 1000000,
      s"expected real file bytes, got $full")
    // a pushed range filter prunes batch=1's files OUT of the estimate
    // (post-pruning stats, not table totals)
    val pruned = scanBytes(load().filter(col("id") < 100))
    assert(pruned < full, s"expected pruned < full, got $pruned >= $full")
    // ... which is what lets a join against a big side auto-broadcast
    // the small manifest table with NO broadcast() hint
    val big = spark.range(0, 200000).toDF("id")
    val joined = big.join(load(), Seq("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected auto-broadcast, got:\n$plan")
    assert(joined.count() == 200)
  }

  test("DSv2 runtime filtering: a broadcast dim join prunes fact files at run time") {
    import graft.sources.{StatsSinks, TxnManifest}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val s2 = spark.newSession()
    import s2.implicits._
    // dim must broadcast, fact must NOT (a broadcast fact would make
    // the runtime filter moot) — pin the threshold between their sizes
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "32768")
    val base = java.nio.file.Files.createTempDirectory("rtf_man_").toString
    val root = s"$base/t"
    val man = new TxnManifest(s"$base/_commits")
    // 4 one-file batches with DISJOINT id ranges and fat payloads:
    // only runtime knowledge of the join keys can skip 3 of them
    for (b <- 0 until 4) {
      StatsSinks.appendBatchStats(
        (b * 1000 until (b + 1) * 1000)
          .map(i => (i.toLong, "p" * 100 + i)).toDF("id", "payload")
          .repartition(1),
        root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    // dim from parquet: a memory relation's filter would constant-fold
    // away, and runtime pruning requires a live selective predicate
    (0 until 200).map(i => (i.toLong, if (i < 5) "keep" else "drop"))
      .toDF("id", "tag").write.parquet(s"$base/dim")
    val dim = s2.read.parquet(s"$base/dim").filter($"tag" === "keep")
    val fact = s2.read.format("graft-manifest")
      .option("manifest", s"$base/_commits").load(root)
    val joined = fact.join(dim, "id")
    assert(joined.collect().length == 5)
    // AQE wraps stages as leaf nodes: descend through them explicitly
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    val fin = joined.queryExecution.executedPlan
    assert(fin.toString.contains("dynamicpruningexpression"),
      s"no runtime filter on the scan in:\n$fin")
    val scans = allNodes(fin).collect {
      case s: BatchScanExec if s.toString.contains("GraftManifestScan") => s
    }
    assert(scans.nonEmpty, s"no manifest scan in:\n$fin")
    // keys 0..4 all live in batch=0: the runtime IN-set + min/max
    // sidecar bounds must skip the other three files
    val files = scans.head.metrics("manifestFilesRead").value
    assert(files == 1, s"expected 1 fact file read after runtime " +
      s"pruning, got $files; plan:\n$fin")
  }

  test("http decode / frontier / status routing plan with zero shuffles") {
    // the t36/t40 decode chains and t38's frontier step are per-row
    // passes whose only join is a BROADCAST against the seen set:
    // ANY shuffle exchange means the scan-speed contract broke
    for (q <- Seq("t36_http_decode", "t38_link_extract",
        "t40_http_status", "t41_sentence_chunks", "t42_pii_scrub")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val ex = plan.collectWithSubqueries { case e: ShuffleExchangeExec => e }
      assert(ex.isEmpty, s"$q expected shuffle-free plan, got:\n$plan")
      graft.util.CacheScope.releaseAll()
    }
  }

  test("z-order layout prunes a 2-D box better than a linear layout") {
    import graft.ops.ZOrder
    import graft.sources.{StatsSinks, TxnManifest}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars")
    val r = docs.agg(min("n_chars"), max("n_chars"), max("doc_id")).head
    val (cLo, cHi, idHi) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def build(base: String, key: org.apache.spark.sql.Column): Unit = {
      StatsSinks.appendBatchStats(docs.withColumn("zz", key)
        .repartitionByRange(16, $"zz").drop("zz"), s"$base/t", 0)
      new TxnManifest(s"$base/_commits").commit(0, Seq(s"$base/t/batch=0"))
    }
    val zBase = java.nio.file.Files.createTempDirectory("sk8_z_").toString
    val lBase = java.nio.file.Files.createTempDirectory("sk8_l_").toString
    build(zBase, ZOrder.key($"n_chars", cLo, cHi, $"doc_id", 0L, idHi))
    build(lBase, $"n_chars".cast("long"))
    val want = docs.filter($"n_chars" <= cLo + (cHi - cLo) / 4 &&
      $"doc_id" <= idHi / 4).count()
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    def filesRead(base: String): Long = {
      val q = spark.read.format("graft-manifest")
        .option("manifest", s"$base/_commits").load(s"$base/t")
        .filter($"n_chars" <= cLo + (cHi - cLo) / 4 && $"doc_id" <= idHi / 4)
      // layout must be answer-invisible under the same box
      assert(q.count() == want, s"$base: wrong rows under the box")
      q.collect()
      val scans = allNodes(q.queryExecution.executedPlan).collect {
        case s: BatchScanExec if s.toString.contains("GraftManifestScan") => s
      }
      scans.head.metrics("manifestFilesRead").value
    }
    val zf = filesRead(zBase)
    val lf = filesRead(lBase)
    // the linear layout prunes only the n_chars stripes; the z-order
    // layout's square-ish cells prune on BOTH dims of the box
    assert(lf < 16, s"linear layout should prune some stripes, read $lf/16")
    assert(zf < lf, s"z-order should beat linear under a 2-D box: " +
      s"z-order read $zf files, linear read $lf")
  }

  test("t43 detection joins the benchmark grams by broadcast") {
    // the scale claim: eval benchmarks are MBs while the corpus is
    // 100 TB, so contamination detection must be a map-side hash
    // probe over the corpus-gram scan — a sort-merge join whose BOTH
    // sides explode grams would shuffle the full corpus gram stream
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val plan = graft.SparkEntry.queries("t43_decontaminate")(spark, sf)
      .queryExecution.sparkPlan
    def hasGen(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.exists { case _: GenerateExec => true; case _ => false }
    val bhj = plan.collectWithSubqueries {
      case b: BroadcastHashJoinExec if hasGen(b) => b }
    assert(bhj.nonEmpty,
      s"expected the gram-detection join to broadcast the benchmark side:\n$plan")
    val smjOverGrams = plan.collectWithSubqueries {
      case j: SortMergeJoinExec if hasGen(j.left) && hasGen(j.right) => j }
    assert(smjOverGrams.isEmpty,
      s"corpus gram stream is being shuffled into a sort-merge join:\n$plan")
  }

  test("LineIndex probe: stored side streams exchange-free into the anti join") {
    import graft.text.LineIndex
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = java.nio.file.Files.createTempDirectory("line_scale_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    LineIndex.ingestBatch(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", tmp, 0)
    LineIndex.ingestBatch(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", tmp, 1)
    val t = LineIndex.tables(tmp).name("lines")
    val probe = docs.limit(50).select(md5($"text").as("h"), $"doc_id", lit(0L).as("ix"))
    val joined = probe.join(
      spark.table(t).filter($"batch" =!= 2).select($"h"),
      Seq("h"), "left_anti")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = joined.queryExecution.executedPlan
      val storedShuffles = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec if e.exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(tmp))
          case _ => false
        } => e
      }
      assert(storedShuffles.isEmpty,
        s"stored line index side is shuffled - bucketing lost:\n$plan")
      val anyShuffle = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec => e }
      assert(anyShuffle.nonEmpty,
        s"expected the probe side to shuffle to the bucket count:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      LineIndex.dropIndex(spark, tmp)
    }
  }
}
