package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.sources.{BloomIndex, StatsSinks, TxnManifest}

/** Per-file bloom-index specs: point-lookup pruning where min/max
  * cannot help, and the no-false-negative soundness contract. */
class BloomSpec extends SparkSuite {
  import spark.implicits._

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.metrics("manifestFilesRead").value
  }

  private def freshTable(prefix: String): (String, String, TxnManifest) = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    val root = s"$base/t"
    val manPath = s"$base/manifest.tsv"
    (root, manPath, new TxnManifest(manPath))
  }

  private def load(root: String, manPath: String) =
    spark.read.format("graft-manifest").option("manifest", manPath).load(root)

  test("equality probe prunes files min/max cannot (interleaved ids)") {
    val (root, manPath, man) = freshTable("bloom_ids_")
    // both batches span the FULL id range (evens vs odds), so range
    // stats overlap everywhere and only blooms can separate them
    val evens = (0 until 2000 by 2).map(i => (i.toLong, s"u$i")).toDF("id", "user")
    val odds  = (1 until 2000 by 2).map(i => (i.toLong, s"u$i")).toDF("id", "user")
    StatsSinks.appendBatchStats(evens.coalesce(1), root, 0)
    BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("id", "user"))
    man.commit(0, Seq(s"$root/batch=0"))
    StatsSinks.appendBatchStats(odds.coalesce(1), root, 1)
    BloomIndex.writeSidecar(spark, s"$root/batch=1", Seq("id", "user"))
    man.commit(1, Seq(s"$root/batch=1"))

    val all = scanFiles(load(root, manPath))
    assert(all == 2)
    // long equality: an odd id must open only batch 1's file
    val q1 = load(root, manPath).where($"id" === 1001L)
    assert(q1.select("user").as[String].collect().toSeq == Seq("u1001"))
    assert(scanFiles(load(root, manPath).where($"id" === 1001L)) == 1)
    // string equality prunes the same way
    assert(scanFiles(load(root, manPath).where($"user" === "u1002")) == 1)
    // IN-list spanning both parities opens both files, result exact
    val in = load(root, manPath).where($"id".isin(4L, 7L))
    assert(in.select("id").as[Long].collect().toSet == Set(4L, 7L))
    assert(scanFiles(load(root, manPath).where($"id".isin(4L, 7L))) == 2)
    // range filters alone never consult blooms: both files read
    assert(scanFiles(load(root, manPath).where($"id" > 100L)) == 2)
  }

  test("file names needing percent-encoding still get correctly-sized blooms") {
    // input_file_name() hands writeSidecar a percent-ENCODED URI while
    // the footer listing has DECODED names; before normalization the
    // row-count lookup missed, silently fell back to expected=1, and
    // the bloom's FPP approached 1 (indexed-looking, prunes nothing)
    val base = java.nio.file.Files.createTempDirectory("bloom_enc_").toString
    val dir = s"$base/batch=0"
    (0 until 4000).map(i => (i.toLong, s"u$i")).toDF("id", "user")
      .coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .head
    val spaced = new java.io.File(dir, "part with space.parquet")
    assert(part.renameTo(spaced))
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    BloomIndex.writeSidecar(spark, dir, Seq("id"), fpp = 0.01)
    // a correctly-sized 1%-FPP bloom rejects nearly every absent key;
    // an expected=1 bloom would accept nearly all of them
    val blooms = BloomIndex.read(
      spark.sparkContext.hadoopConfiguration, dir).get
    val (_, bloom) = blooms("part with space.parquet")("id")
    val falsePositives =
      (10000L until 12000L).count(k => bloom.mightContainLong(k))
    assert(falsePositives < 100,
      s"$falsePositives/2000 absent keys accepted — bloom was undersized")
    assert((0L until 4000L).forall(k => bloom.mightContainLong(k)))
  }

  test("sidecar snapshot cache: unchanged status serves cached parse, rewrite misses") {
    import graft.sources.BatchStats
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("cache_").toString
    val side = java.nio.file.Paths.get(dir, "_stats.tsv")
    java.nio.file.Files.writeString(side, "f1.parquet\tid\tL\t0\t9\n")
    val first = BatchStats.read(conf, dir)
    assert(first.get("f1.parquet").bounds.contains("id"))
    // same (mtime, len): the cache answers — prove it by changing the
    // on-disk CONTENT without changing the status the cache keys on
    // (same byte length, mtime forced back)
    val st = java.nio.file.Files.getLastModifiedTime(side)
    java.nio.file.Files.writeString(side, "gx.parquet\tid\tL\t0\t9\n")
    java.nio.file.Files.setLastModifiedTime(side, st)
    assert(BatchStats.read(conf, dir) == first, "cache should have served")
    // a REAL in-place rewrite (different length → different key)
    // misses onto a fresh parse — the operator-recovery contract
    java.nio.file.Files.writeString(side,
      "f1.parquet\tid\tL\t0\t9\nf2.parquet\tid\tL\t10\t19\n")
    val second = BatchStats.read(conf, dir)
    assert(second.get.keySet == Set("f1.parquet", "f2.parquet"))
    // absence is never cached: delete → None immediately
    java.nio.file.Files.delete(side)
    assert(BatchStats.read(conf, dir).isEmpty)
  }

  test("stats checkpoint: one file answers listing + skipping; fresh dirs fall back") {
    import graft.sources.{StatsCheckpoint, StatsSinks}
    val (root, manPath, man) = freshTable("ckpt_")
    // two batches with DISJOINT id ranges → range stats can prune
    for ((lo, b) <- Seq((0, 0), (1000, 1))) {
      StatsSinks.appendBatchStats(
        (lo until lo + 500).map(i => (i.toLong, s"u$i")).toDF("id", "user")
          .coalesce(1), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    assert(StatsCheckpoint.write(spark, manPath) == 2)
    // remove every per-dir stats sidecar: pruning that still happens
    // can only have come from the checkpoint
    for (b <- 0 to 1)
      assert(new java.io.File(s"$root/batch=$b/_stats.tsv").delete())
    assert(scanFiles(load(root, manPath)) == 2)
    val pruned = load(root, manPath).where($"id" < 100L)
    assert(pruned.count() == 100)
    assert(scanFiles(load(root, manPath).where($"id" < 100L)) == 1,
      "checkpointed stats must prune to batch 0's file")

    // a dir committed AFTER the checkpoint is served per-dir: rows
    // visible immediately, stats pruning via its own sidecar
    StatsSinks.appendBatchStats(
      (2000 until 2500).map(i => (i.toLong, s"u$i")).toDF("id", "user")
        .coalesce(1), root, 2)
    man.commit(2, Seq(s"$root/batch=2"))
    assert(load(root, manPath).count() == 1500)
    assert(scanFiles(load(root, manPath).where($"id" >= 2000L)) == 1)

    // fail-loud survives the checkpoint: a committed dir deleted out
    // from under the manifest (even one the checkpoint still lists)
    // is a PLAN-time error, not an empty scan — partitionsFor probes
    // existence itself, never trusting the checkpoint for freshness
    val doomed = new java.io.File(s"$root/batch=1")
    doomed.listFiles().foreach(_.delete())
    assert(doomed.delete())
    val e = intercept[IllegalStateException] {
      graft.sources.GraftManifestSource.partitionsFor(
        man, root, Int.MinValue, Int.MaxValue)
    }
    assert(e.getMessage.contains("committed data was deleted"), s"got: $e")
    // the full read path is equally loud (schema resolution finds the
    // hole first, as PATH_NOT_FOUND)
    intercept[Exception] { load(root, manPath).count() }
    ()
  }

  test("no false negatives: every present value survives pruning (randomized)") {
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(500)(rnd.nextLong())
    val (root, manPath, man) = freshTable("bloom_prop_")
    StatsSinks.appendBatchStats(values.toDF("id").repartition(4), root, 0)
    BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("id"))
    man.commit(0, Seq(s"$root/batch=0"))
    val conf = spark.sparkContext.hadoopConfiguration
    val blooms = BloomIndex.read(conf, s"$root/batch=0").get
    // a file's bloom must admit every value the file actually holds
    val byFile = spark.read.parquet(s"$root/batch=0")
      .select(input_file_name().as("f"), $"id")
      .as[(String, Long)].collect()
      .groupBy { case (f, _) => new org.apache.hadoop.fs.Path(f).getName }
    byFile.foreach { case (name, rows) =>
      val fb = blooms(name)
      rows.foreach { case (_, v) =>
        assert(BloomIndex.mayMatch(fb, Seq(EqualTo("id", v))),
          s"false negative: $v in $name")
      }
    }
    // and the scan returns exactly the matching rows for each probe
    values.take(20).foreach { v =>
      assert(load(root, manPath).where($"id" === v).count() ==
        values.count(_ == v))
    }
  }

  test("unknown column, absent sidecar, wrong-domain literal: never prune") {
    val (root, manPath, man) = freshTable("bloom_guard_")
    StatsSinks.appendBatchStats(Seq((1L, "a")).toDF("id", "s"), root, 0)
    BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("id"))
    man.commit(0, Seq(s"$root/batch=0"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fb = BloomIndex.read(conf, s"$root/batch=0").get.head._2
    // column not indexed → may match
    assert(BloomIndex.mayMatch(fb, Seq(EqualTo("s", "zzz"))))
    // string literal against the long bloom → wrong domain, may match
    assert(BloomIndex.mayMatch(fb, Seq(EqualTo("id", "1"))))
    // null literal never prunes
    assert(BloomIndex.mayMatch(fb, Seq(EqualTo("id", null))))
    // In with any null never prunes
    assert(BloomIndex.mayMatch(fb, Seq(In("id", Array(99L, null)))))
    // In with all-absent longs DOES prune
    assert(!BloomIndex.mayMatch(fb, Seq(In("id", Array(98L, 99L)))))
    // Or requires both branches excluded; one present side keeps it
    assert(BloomIndex.mayMatch(fb,
      Seq(Or(EqualTo("id", 1L), EqualTo("id", 99L)))))
    assert(!BloomIndex.mayMatch(fb,
      Seq(Or(EqualTo("id", 98L), EqualTo("id", 99L)))))
    // absent sidecar → None → no pruning path at all
    assert(BloomIndex.read(conf, s"$root/nope").isEmpty)
    // torn sidecar degrades to no pruning, never a crash
    val torn = new java.io.PrintWriter(s"$root/batch=0/_bloom.tsv")
    torn.write("garbage\twithout\tenough"); torn.close()
    assert(BloomIndex.read(conf, s"$root/batch=0").isEmpty)
    assert(load(root, manPath).where($"id" === 1L).count() == 1)
  }

  test("maintenance carries bloom coverage: compact and merge keep pruning") {
    import graft.sources.Sinks
    val (root, manPath, man) = freshTable("bloom_maint_")
    val evens = (0 until 1000 by 2).map(i => (i.toLong, s"u$i")).toDF("id", "user")
    val odds  = (1 until 1000 by 2).map(i => (i.toLong, s"u$i")).toDF("id", "user")
    StatsSinks.appendBatchStats(evens.coalesce(1), root, 0)
    BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("id"))
    man.commit(0, Seq(s"$root/batch=0"))
    StatsSinks.appendBatchStats(odds.coalesce(1), root, 1)
    BloomIndex.writeSidecar(spark, s"$root/batch=1", Seq("id"))
    man.commit(1, Seq(s"$root/batch=1"))
    val conf = spark.sparkContext.hadoopConfiguration

    // compaction into 2 files: the output dir is re-indexed on `id`
    Sinks.compact(spark, root, man, compactId = 10, numFiles = 2)
    assert(BloomIndex.indexedColumns(conf, s"$root/batch=10") == Set("id"))
    // pruning still works through the rebuilt index: a present id
    // reads 1 of the 2 compacted files (ids were written pre-sorted
    // per parity so the two coalesced files partition the rows)
    val hits = scanFiles(load(root, manPath).where($"id" === 4L))
    assert(hits <= 1, s"expected <=1 file after compaction, read $hits")

    // merge rewrites the compacted dir: coverage survives the rewrite
    Sinks.mergeUpsert(spark, Seq((4L, "CHANGED")).toDF("id", "user"),
      root, man, Seq("id"), mergeId = 20)
    assert(BloomIndex.indexedColumns(conf, s"$root/batch=20") == Set("id"))
    assert(load(root, manPath).where($"id" === 4L)
      .select("user").as[String].head() == "CHANGED")

    // inputs without any bloom sidecar: carryOver is a no-op
    val (root2, _, man2) = freshTable("bloom_maint2_")
    StatsSinks.appendBatchStats(evens, root2, 0)
    man2.commit(0, Seq(s"$root2/batch=0"))
    Sinks.compact(spark, root2, man2, compactId = 1, numFiles = 1)
    assert(BloomIndex.indexedColumns(conf, s"$root2/batch=1").isEmpty)
  }

  test("sink bloomColumns option indexes every epoch; bad columns fail at plan time") {
    val base = java.nio.file.Files.createTempDirectory("bloom_sink_").toString
    val (root, manPath) = (s"$base/t", s"$base/manifest.tsv")
    val src = java.nio.file.Files.createTempDirectory("bloom_sink_src_").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$src/in")
    val q = spark.readStream.schema("id LONG, v STRING").parquet(s"$src/in")
      .writeStream.format("graft-manifest")
      .option("manifest", manPath)
      .option("bloomColumns", "id,v")
      .option("checkpointLocation", s"$base/ckpt")
      .start(root)
    q.processAllAvailable(); q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(BloomIndex.indexedColumns(conf, s"$root/batch=0") == Set("id", "v"))
    assert(scanFiles(load(root, manPath).where($"id" === 1L)) >= 1)

    // unknown / unindexable columns are refused before any epoch runs
    val bad = intercept[Exception] {
      spark.readStream.schema("id LONG, v STRING").parquet(s"$src/in")
        .writeStream.format("graft-manifest")
        .option("manifest", s"$base/m2.tsv")
        .option("bloomColumns", "nope")
        .option("checkpointLocation", s"$base/ckpt2")
        .start(s"$base/t2")
        .processAllAvailable()
    }
    assert(bad.getMessage.contains("nope") ||
      bad.getCause != null && bad.getCause.getMessage.contains("nope"))
  }

  test("bloom-assisted merge probe: takedown delete prunes to the owning dirs") {
    import graft.sources.Sinks
    val (root, manPath, man) = freshTable("bloom_probe_")
    // three batches whose id RANGES all overlap (interleaved mod 3) —
    // range pruning is provably useless, only blooms can separate them
    for (m <- 0 until 3) {
      val part = (0 until 3000).filter(_ % 3 == m)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v")
      StatsSinks.appendBatchStats(part.coalesce(1), root, m)
      // 1e-6 fpp: bloom hashing is deterministic, but the default 1%
      // admits occasional false positives that would make the exact
      // dir assertions below data-dependent
      BloomIndex.writeSidecar(spark, s"$root/batch=$m", Seq("id"), fpp = 1e-6)
      man.commit(m, Seq(s"$root/batch=$m"))
    }
    // unit: keys living only in batch 1 (ids ≡ 1 mod 3) keep only it
    val dirs = (0 until 3).map(m => s"$root/batch=$m")
    val keys1 = Seq(1L, 7L, 601L).toDF("id")
    val pruned = Sinks.bloomCandidateDirs(spark, dirs, Sinks.smallRows(keys1), Seq("id"))
    assert(pruned == Seq(s"$root/batch=1"))
    // a dir without bloom coverage always stays a candidate
    val fc = new java.io.File(s"$root/batch=2/_bloom.tsv")
    assert(fc.delete())
    val pruned2 = Sinks.bloomCandidateDirs(spark, dirs, Sinks.smallRows(keys1), Seq("id"))
    assert(pruned2 == Seq(s"$root/batch=1", s"$root/batch=2"))
    BloomIndex.writeSidecar(spark, s"$root/batch=2", Seq("id"), fpp = 1e-6)
    // key set above the collect cap: range-only, nothing pruned
    val manyKeys = (0L until Sinks.BloomProbeMaxKeys + 1L).toDF("id")
    assert(Sinks.bloomCandidateDirs(spark, dirs, Sinks.smallRows(manyKeys), Seq("id")) == dirs)

    // end-to-end: the takedown delete touches ONLY batch 1; the other
    // two batches' manifest entries survive the commit untouched
    Sinks.mergeDelete(spark, Seq(1L, 7L).toDF("id"), root, man,
      Seq("id"), mergeId = 50)
    val after = man.committed()
    assert(after.contains(0) && after.contains(2) && after.contains(50))
    assert(!after.contains(1), "batch 1 should be rewritten into 50")
    assert(load(root, manPath).count() == 2998)
    assert(load(root, manPath).where($"id".isin(1L, 7L)).count() == 0)
  }

  test("appendBatchStats(bloomColumns) indexes the batch path at load time") {
    import graft.sources.Sinks
    val (root, manPath, man) = freshTable("bloom_append_")
    // the batch-append path used to have NO bloom hook: a batch-loaded
    // table carried zero point-lookup coverage until its first
    // compaction rebuild. One call now lands data + stats + blooms.
    for (m <- 0 until 2) {
      val part = (0 until 2000).filter(_ % 2 == m)
        .map(i => (i.toLong, s"u$i")).toDF("id", "user")
      StatsSinks.appendBatchStats(part.coalesce(1), root, m,
        bloomColumns = Seq("id", "user"))
      man.commit(m, Seq(s"$root/batch=$m"))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    assert(BloomIndex.indexedColumns(conf, s"$root/batch=0") ==
      Set("id", "user"))
    // scan-side: an odd id opens only batch 1's file
    assert(scanFiles(load(root, manPath).where($"id" === 1001L)) == 1)
    // merge-probe side: keys living only in batch 1 prune batch 0
    // BEFORE any scan — the pruning a merge on a freshly batch-loaded
    // table now gets without waiting for a compaction
    val dirs = (0 until 2).map(m => s"$root/batch=$m")
    val oddKeys = Seq(1L, 999L).toDF("id")
    assert(Sinks.bloomCandidateDirs(spark, dirs, Sinks.smallRows(oddKeys), Seq("id"))
      == Seq(s"$root/batch=1"))
    // unindexable type still fails loudly through the convenience hook
    val bad = intercept[IllegalArgumentException] {
      StatsSinks.appendBatchStats(
        Seq((1.5, "x")).toDF("d", "s"), s"$root/other", 0,
        bloomColumns = Seq("d"))
    }
    assert(bad.getMessage.contains("unindexable"))
  }

  test("columnMapping × bloomColumns: physical-keyed sidecars survive RENAME") {
    import graft.plans.{GraftSql, GraftSqlTables}
    import graft.sources.Sinks
    val wh = java.nio.file.Files
      .createTempDirectory("graft_bloommap_wh_").toString
    spark.conf.set("spark.sql.catalog.bmap",
      classOf[graft.plans.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bmap.warehouse", wh)
    try {
      GraftSql.execute(spark, "DROP TABLE IF EXISTS bmap.t")
      GraftSql.execute(spark,
        """CREATE TABLE bmap.t (id BIGINT, v STRING)
          |USING `graft-manifest` TBLPROPERTIES ('keys' = 'id',
          |  'columnMapping' = 'true', 'bloomColumns' = 'id')
          |""".stripMargin)
      // three interleaved batches (ids mod 3): ranges fully overlap,
      // so ONLY the blooms can tell the owning dir apart
      for (m <- 0 until 3) {
        (0 until 3000).filter(_ % 3 == m).map(i => (i.toLong, s"v$i"))
          .toDF("id", "v").coalesce(1).createOrReplaceTempView("bmap_src")
        GraftSql.execute(spark, "INSERT INTO bmap.t SELECT * FROM bmap_src")
      }
      val entry = GraftSqlTables.lookup(Seq("bmap", "t")).orElse(
        GraftSqlTables.lookup(Seq("bmap.t"))).get
      val log = new graft.sources.SchemaLog(entry.schemaLogPath.get)
      val physId = log.current()._2.find(_.logical == "id").get.physical
      assert(physId != "id" || log.current()._2.nonEmpty) // mapping live
      val man = new graft.sources.TxnManifest(entry.manifestPath)
      val dirs = man.committedDirs(entry.root)
      assert(dirs.size == 3)
      val conf = spark.sparkContext.hadoopConfiguration
      // the sidecars key on the PHYSICAL column name
      dirs.foreach(d =>
        assert(BloomIndex.indexedColumns(conf, d) == Set(physId),
          s"dir $d should carry a bloom for '$physId'"))
      // the (physical-speaking) merge probe prunes: keys ≡ 1 mod 3
      // keep their owning dir and drop at least one of the others
      val keys1 = Seq(1L, 7L, 601L).toDF(physId)
      val owning = dirs.find(d => spark.read.parquet(d)
        .where(col(physId) === 1L).count() > 0).get
      val pruned = Sinks.bloomCandidateDirs(spark, dirs, Sinks.smallRows(keys1), Seq(physId))
      assert(pruned.contains(owning) && pruned.size < dirs.size,
        s"bloom probe kept $pruned of $dirs")

      // metadata-only RENAME: physical names never move, so coverage
      // survives — pruning still works, addressed by the NEW name
      GraftSql.execute(spark, "ALTER TABLE bmap.t RENAME COLUMN id TO rid")
      val physAfter = log.current()._2.find(_.logical == "rid").get.physical
      assert(physAfter == physId, "rename must not move the physical name")
      dirs.foreach(d =>
        assert(BloomIndex.indexedColumns(conf, d) == Set(physId)))
      val prunedAfter = Sinks.bloomCandidateDirs(spark, dirs,
        Sinks.smallRows(Seq(2L, 8L, 602L).toDF(physId)), Seq(physId))
      assert(prunedAfter.size < dirs.size,
        s"post-rename bloom probe kept $prunedAfter of $dirs")
      // end-to-end: a point DELETE through the renamed column still
      // lands (the mapped merge speaks physical underneath)
      GraftSql.execute(spark, "DELETE FROM bmap.t WHERE rid = 1 OR rid = 7")
      val left = GraftSql.execute(spark,
        "SELECT count(*) AS n FROM bmap.t").collect().head.getLong(0)
      assert(left == 2998)
      // a fresh INSERT after the rename still indexes the same
      // physical column
      Seq((9001L, "x")).toDF("rid", "v")
        .createOrReplaceTempView("bmap_src2")
      GraftSql.execute(spark, "INSERT INTO bmap.t SELECT * FROM bmap_src2")
      val newDirs = new graft.sources.TxnManifest(entry.manifestPath)
        .committedDirs(entry.root).filterNot(dirs.contains)
      assert(newDirs.exists(d =>
        BloomIndex.indexedColumns(conf, d) == Set(physId)),
        "post-rename inserts must keep indexing the physical column")
      GraftSql.execute(spark, "DROP TABLE bmap.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.bmap")
      spark.conf.unset("spark.sql.catalog.bmap.warehouse")
    }
  }

  test("describeDetail reports coverage per batch dir") {
    import graft.sources.Sinks
    val (root, manPath, man) = freshTable("detail_")
    StatsSinks.appendBatchStats(Seq((1L, "a")).toDF("id", "v"), root, 0)
    BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("id"))
    man.commit(0, Seq(s"$root/batch=0"))
    // raw append, no sidecars at all
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$root/batch=1")
    man.commit(1, Seq(s"$root/batch=1"))
    val d = Sinks.describeDetail(spark, root, new graft.sources.TxnManifest(manPath))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(3), r.getBoolean(5), r.getBoolean(6), r.getSeq[String](7))))
      .toMap
    assert(d(0)._1 >= 1 && d(0)._2 && d(0)._3 && d(0)._4 == Seq("id"))
    assert(d(1)._1 >= 1 && !d(1)._2 && !d(1)._3 && d(1)._4.isEmpty)
    // a deletion-vector entry is flagged, so the operational question
    // "which entries are vectors awaiting compaction" has an answer
    Sinks.mergeDeleteDV(spark, Seq(1L).toDF("id"), root,
      new graft.sources.TxnManifest(manPath), Seq("id"), mergeId = 5)
    val d2 = Sinks.describeDetail(spark, root,
      new graft.sources.TxnManifest(manPath))
      .collect().map(r => r.getInt(0) -> r.getBoolean(8)).toMap
    assert(!d2(0) && !d2(1) && d2(5))
  }

  test("unindexable column type fails loudly at build time") {
    val (root, _, _) = freshTable("bloom_type_")
    StatsSinks.appendBatchStats(Seq((1L, 2.5)).toDF("id", "v"), root, 0)
    val e = intercept[IllegalArgumentException] {
      BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("v"))
    }
    assert(e.getMessage.contains("unindexable"))
    val e2 = intercept[IllegalArgumentException] {
      BloomIndex.writeSidecar(spark, s"$root/batch=0", Seq("missing"))
    }
    assert(e2.getMessage.contains("not in"))
  }
}
