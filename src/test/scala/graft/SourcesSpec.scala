package graft

import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types._
import graft.sources.{Sinks, Sources, TxnManifest}

class SourcesSpec extends SparkSuite {
  import spark.implicits._

  test("keysetSubquery reproduces the reference's extract SQL shape (accounts.py:44)") {
    val q = Sources.keysetSubquery("dbo.Orders", "OrderID", 1500, 2000,
      Seq("OrderID", "LocationID"), Some("CreatedOn > '2025-01-01'"))
    assert(q == "(SELECT TOP 2000 OrderID, LocationID FROM dbo.Orders " +
      "WHERE OrderID > 1500 AND (CreatedOn > '2025-01-01') ORDER BY OrderID) AS batch")
    val star = Sources.keysetSubquery("dbo.Users", "UserID", 0, 100)
    assert(star == "(SELECT TOP 100 * FROM dbo.Users WHERE UserID > 0 ORDER BY UserID) AS batch")
  }

  test("applySinkTypes casts mapped columns, ignores absent ones (S12)") {
    val df = Seq((1L, 46.6752953, "x")).toDF("id", "lat", "s")
    val out = Sinks.applySinkTypes(df, Map(
      "lat" -> DecimalType(9, 6), "missing" -> StringType))
    assert(out.schema("lat").dataType == DecimalType(9, 6))
    assert(out.select("lat").first().getDecimal(0).toPlainString == "46.675295")
  }

  test("batch sinks: idempotent re-run + schema evolution on read (S8/S10/S11)") {
    val tmp = java.nio.file.Files.createTempDirectory("sinks_spec_").toString
    val b0 = Seq((1L, "a")).toDF("id", "v")
    Sinks.appendBatch(b0, s"$tmp/fact", 0)
    Sinks.appendBatch(b0, s"$tmp/fact", 0) // re-run batch 0: overwrite, not duplicate
    val b1 = Seq((2L, "b", 9.9)).toDF("id", "v", "extra") // evolved schema
    Sinks.appendBatch(b1, s"$tmp/fact", 1)
    val all = Sinks.readEvolved(spark, s"$tmp/fact")
    assert(all.count() == 2)
    assert(all.columns.toSet == Set("id", "v", "extra", "batch"))
    assert(all.filter($"id" === 1).select("extra").first().isNullAt(0))
    // dual write lands both outputs under the same batch id
    Sinks.dualWrite(b0, Seq((1L, 100L)).toDF("oldId", "newId"),
      s"$tmp/f2", s"$tmp/sync", 0)
    assert(spark.read.parquet(s"$tmp/sync").count() == 1)
  }

  test("dualWriteAtomic: crash between the two writes leaves NEITHER visible (S11)") {
    val tmp = java.nio.file.Files.createTempDirectory("sinks_txn_").toString
    val manifest = new TxnManifest(s"$tmp/_commits")
    def fact(id: Long)  = Seq((id, s"v$id")).toDF("id", "v")
    def sync(id: Long)  = Seq((id, id + 100)).toDF("oldId", "newId")

    // a fresh manifest: nothing visible, and the reader says so loudly
    intercept[IllegalStateException] {
      Sinks.readCommitted(spark, s"$tmp/fact", manifest)
    }

    Sinks.dualWriteAtomic(fact(1), sync(1), s"$tmp/fact", s"$tmp/sync", manifest, 0)
    assert(Sinks.readCommitted(spark, s"$tmp/fact", manifest).count() == 1)
    assert(Sinks.readCommitted(spark, s"$tmp/sync", manifest).count() == 1)

    // crash window: batch 1's fact directory lands, then the process
    // dies before the mapping write / manifest commit — the exact
    // failure dualWrite couldn't mask. Readers see batch 1 in NEITHER
    // output (the orphan dir exists on disk but is not in the manifest).
    Sinks.appendBatch(fact(2), s"$tmp/fact", 1)
    assert(Sinks.readCommitted(spark, s"$tmp/fact", manifest).count() == 1)
    assert(Sinks.readCommitted(spark, s"$tmp/sync", manifest).count() == 1)
    assert(manifest.committed().keySet == Set(0))

    // restart re-runs batch 1: orphan overwritten idempotently, one
    // atomic commit makes both outputs visible together
    Sinks.dualWriteAtomic(fact(2), sync(2), s"$tmp/fact", s"$tmp/sync", manifest, 1)
    assert(Sinks.readCommitted(spark, s"$tmp/fact", manifest).count() == 2)
    assert(Sinks.readCommitted(spark, s"$tmp/sync", manifest).count() == 2)

    // legacy-layout guard: a DIRECTORY at the manifest path is a clear
    // migration error, not an opaque IOException
    val dirAsState = new TxnManifest(s"$tmp/fact")
    val e = intercept[IllegalStateException](dirAsState.committed())
    assert(e.getMessage.contains("not a regular file"))

    // S10 through the same reader: a later batch commits an extra
    // column; readCommitted merges schemas and serves older batches'
    // rows as NULL in the new column
    val evolved = Seq((3L, "v3", "fresh")).toDF("id", "v", "note")
    Sinks.dualWriteAtomic(evolved, sync(3), s"$tmp/fact", s"$tmp/sync", manifest, 2)
    val all = Sinks.readCommitted(spark, s"$tmp/fact", manifest)
    assert(all.columns.toSet == Set("id", "v", "note"))
    assert(all.count() == 3)
    assert(all.filter($"note".isNull).count() == 2)
  }

  test("readCommittedAsOf: time travel over the commit history") {
    val tmp = java.nio.file.Files.createTempDirectory("tt_spec_").toString
    val root = s"$tmp/data"
    val man = new TxnManifest(s"$tmp/_commits")
    for (i <- 0 to 2) {
      Sinks.appendBatch(Seq((i.toLong, s"v$i")).toDF("id", "v"), root, i)
      man.commit(i, Seq(s"$root/batch=$i"))
    }
    assert(Sinks.readCommittedAsOf(spark, root, man, 0).count() == 1)
    assert(Sinks.readCommittedAsOf(spark, root, man, 1).count() == 2)
    assert(Sinks.readCommittedAsOf(spark, root, man, 99).count() == 3)
    intercept[IllegalStateException] {
      Sinks.readCommittedAsOf(spark, root, man, -1)
    }
    // compaction rewrites history: travel to a pre-compaction batch id
    // degrades to the compacted view (its entry is all that remains)
    Sinks.compact(spark, root, man, compactId = 10, numFiles = 1)
    assert(Sinks.readCommittedAsOf(spark, root, man, 10).count() == 3)
    intercept[IllegalStateException] {
      Sinks.readCommittedAsOf(spark, root, man, 1) // history compacted away
    }
  }

  test("TIMESTAMP AS OF: mtime-clocked version resolution, boundaries pinned") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val tmp = Files.createTempDirectory("ts_travel_").toString
    val root = s"$tmp/data"
    val manPath = s"$tmp/_commits"
    val man = new TxnManifest(manPath)
    for (i <- 0 to 1) {
      Sinks.appendBatch(Seq((i.toLong, s"v$i")).toDF("id", "v"), root, i)
      man.commit(i, Seq(s"$root/batch=$i"))
    }
    // a MERGE makes version 3: version-addressed travel must replay it
    Sinks.mergeUpsert(spark, Seq((0L, "patched")).toDF("id", "v"),
      root, man, Seq("id"), mergeId = 2)
    // pin the claim clocks explicitly — the spec must not depend on
    // how fast the three commits above ran
    for ((v, t) <- Seq(1 -> 1000L, 2 -> 2000L, 3 -> 3000L))
      Files.setLastModifiedTime(Paths.get(s"$manPath.v$v"),
        FileTime.fromMillis(t))
    assert(man.commitTimestamps() ==
      Seq(1L -> 1000L, 2L -> 2000L, 3L -> 3000L))

    // between-commits timestamp resolves to the EARLIER version
    assert(man.versionAt(1500L) == 1L)
    assert(Sinks.readCommittedAsOfTimestamp(spark, root, man, 1500L)
      .count() == 1)
    // exact boundary is inclusive
    assert(man.versionAt(2000L) == 2L)
    assert(Sinks.readCommittedAsOfTimestamp(spark, root, man, 2000L)
      .count() == 2)
    // after the merge: the patched row serves, the pre-image does not
    val now = Sinks.readCommittedAsOfTimestamp(spark, root, man, 99999L)
    assert(now.where(col("v") === "patched").count() == 1)
    assert(now.count() == 2)
    // a version BEFORE the merge still serves the pre-merge row —
    // stateAt replays the tombstone, not a batch-id prefix
    assert(Sinks.readCommittedAtVersion(spark, root, man, 2)
      .where(col("v") === "v0").count() == 1)
    // pre-history fails loudly: the table did not exist yet
    intercept[IllegalArgumentException] { man.versionAt(999L) }

    // clock skew: a claim whose mtime runs BEHIND its predecessor
    // inherits the predecessor's timestamp (monotonic adjustment)
    Files.setLastModifiedTime(Paths.get(s"$manPath.v2"),
      FileTime.fromMillis(500L))
    assert(man.commitTimestamps() ==
      Seq(1L -> 1000L, 2L -> 1000L, 3L -> 3000L))
    assert(man.versionAt(1000L) == 2L) // newest version at that instant

    // DSv2 face: timestampAsOf plans the same tombstone-resolved dirs
    Files.setLastModifiedTime(Paths.get(s"$manPath.v2"),
      FileTime.fromMillis(2000L))
    val dsv2 = spark.read.format("graft-manifest")
      .option("manifest", manPath).option("timestampAsOf", "1500")
      .load(root)
    assert(dsv2.count() == 1)
    val dsv2Now = spark.read.format("graft-manifest")
      .option("manifest", manPath).option("timestampAsOf", "99999")
      .load(root)
    assert(dsv2Now.where(col("v") === "patched").count() == 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-manifest").option("manifest", manPath)
        .option("versionAsOf", "1").option("timestampAsOf", "1500")
        .load(root).count()
    }
  }

  test("ManifestConsumer: exactly-once tail across a crash between sink and offset") {
    import graft.ops.Cdc
    import graft.sources.ManifestConsumer
    val tmp = java.nio.file.Files.createTempDirectory("mc_spec_").toString
    val root = s"$tmp/data"
    val man = new TxnManifest(s"$tmp/_commits")
    val store = new Cdc.WatermarkStore(spark, s"$tmp/offsets", initial = -1L)
    def batch(id: Long) = Seq((id, s"r$id")).toDF("id", "v")
    for (i <- 0 to 2) {
      Sinks.appendBatch(batch(i), root, i)
      man.commit(i, Seq(s"$root/batch=$i"))
    }
    Sinks.appendBatch(batch(99), root, 9) // orphan: never committed

    val out = s"$tmp/out"
    var sinkRuns = 0
    val sink = (df: org.apache.spark.sql.DataFrame, id: Int) => {
      sinkRuns += 1
      Sinks.appendBatch(df, out, id)
    }

    // crash DURING batch 1: its sink ran (data landed), offset didn't
    var crashed = false
    intercept[RuntimeException] {
      ManifestConsumer.pollOnce(spark, man, root, store, "c")((df, id) => {
        sink(df, id)
        if (id == 1 && !crashed) { crashed = true; throw new RuntimeException("kill") }
      })
    }
    // restart: batch 1 is RE-delivered (offset still 0); the batch-keyed
    // sink overwrites its own partial output — no dup, no gap
    val second = ManifestConsumer.pollOnce(spark, man, root, store, "c")(sink)
    assert(second == Seq(1, 2))
    val consumed = spark.read.parquet(out)
    assert(consumed.count() == 3) // 0,1,2 — orphan 99 invisible
    assert(consumed.select("id").as[Long].collect().sorted.sameElements(Array(0L, 1L, 2L)))

    // nothing pending → empty poll, offset stable
    assert(ManifestConsumer.pollOnce(spark, man, root, store, "c")(sink).isEmpty)

    // a second consumer group drains independently from the start
    assert(ManifestConsumer.pollOnce(spark, man, root, store, "c2")(sink) == Seq(0, 1, 2))

    // coalesced catch-up: one scan for all pending, offset at high water
    val store2 = new Cdc.WatermarkStore(spark, s"$tmp/offsets2", initial = -1L)
    val got = ManifestConsumer.pollCoalesced(spark, man, root, store2, "cc") {
      (df, hw) => assert(df.count() == 3 && hw == 2)
    }
    assert(got.contains(2))
    assert(ManifestConsumer.pollCoalesced(spark, man, root, store2, "cc")((_, _) => fail()).isEmpty)
  }

  test("mergeUpsert: partial rewrite, crash window, insert-only, dup guard") {
    val tmp = java.nio.file.Files.createTempDirectory("merge_spec_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    // two committed halves: evens in batch=0, odds in batch=1
    val rows = (1L to 100L).map(i => (i, s"v$i", i * 10.0)).toDF("id", "v", "m")
    Sinks.appendBatch(rows.filter($"id" % 2 === 0), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    Sinks.appendBatch(rows.filter($"id" % 2 === 1), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))

    // crash window: the merged dir lands but the process dies before
    // the manifest swap — readers keep the pre-merge view
    Sinks.appendBatch(Seq((2L, "torn", 0.0)).toDF("id", "v", "m"), root, 2)
    val preMerge = Sinks.readCommitted(spark, root, man)
    assert(preMerge.count() == 100)
    assert(preMerge.filter($"v" === "torn").isEmpty)

    // the real merge (same mergeId — overwrites the orphan): updates
    // touch only EVEN ids + one brand-new id
    val updates = Seq((2L, "u2", -2.0), (4L, "u4", -4.0), (999L, "new", 0.0))
      .toDF("id", "v", "m")
    Sinks.mergeUpsert(spark, updates, root, man, Seq("id"), mergeId = 2)

    // partial rewrite: only batch=0 (evens) was affected; batch=1's
    // entry survives the commit untouched
    assert(man.committedDirs(root).toSet ==
      Set(s"$root/batch=1", s"$root/batch=2"))
    val after = Sinks.readCommitted(spark, root, man)
    assert(after.count() == 101)
    assert(after.filter($"id" === 2).select("v").head().getString(0) == "u2")
    assert(after.filter($"id" === 4).select("m").head().getDouble(0) == -4.0)
    assert(after.filter($"id" === 999).count() == 1)
    assert(after.filter($"id" === 3).select("v").head().getString(0) == "v3")

    // pure insert: no key matches → no dir rewritten, old entries stay
    Sinks.mergeUpsert(spark, Seq((1000L, "ins", 1.0)).toDF("id", "v", "m"),
      root, man, Seq("id"), mergeId = 3)
    assert(man.committedDirs(root).toSet ==
      Set(s"$root/batch=1", s"$root/batch=2", s"$root/batch=3"))
    assert(Sinks.readCommitted(spark, root, man).count() == 102)

    // ambiguous source: two update rows for one key fail loudly
    intercept[IllegalArgumentException] {
      Sinks.mergeUpsert(spark,
        Seq((6L, "a", 0.0), (6L, "b", 0.0)).toDF("id", "v", "m"),
        root, man, Seq("id"), mergeId = 4)
    }

    // schema evolution through the merge: a new column arrives with
    // the updates; kept rows serve NULL in it
    val evolved = Seq((8L, "u8", -8.0, "extra")).toDF("id", "v", "m", "note")
    Sinks.mergeUpsert(spark, evolved, root, man, Seq("id"), mergeId = 5)
    val withNote = Sinks.readCommitted(spark, root, man)
    assert(withNote.columns.toSet == Set("id", "v", "m", "note"))
    assert(withNote.filter($"id" === 8).select("note").head().getString(0) == "extra")
    assert(withNote.filter($"note".isNull).count() == 101)
  }

  test("mergeDelete + combined arms: purge, disjointness guard, CDF sidecar") {
    val tmp = java.nio.file.Files.createTempDirectory("merge_del_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    val rows = (1L to 100L).map(i => (i, s"v$i", i * 10.0)).toDF("id", "v", "m")
    Sinks.appendBatch(rows.filter($"id" % 2 === 0), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    Sinks.appendBatch(rows.filter($"id" % 2 === 1), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))

    // pure DELETE touching only even ids: batch=1 survives untouched,
    // purged keys are gone, absent keys are a no-op
    Sinks.mergeDelete(spark, Seq(2L, 4L, 9999L).toDF("id"), root, man,
      Seq("id"), mergeId = 2)
    assert(man.committedDirs(root).toSet ==
      Set(s"$root/batch=1", s"$root/batch=2"))
    val afterDel = Sinks.readCommitted(spark, root, man)
    assert(afterDel.count() == 98)
    assert(afterDel.filter($"id".isin(2L, 4L)).isEmpty)
    assert(afterDel.filter($"id" === 6L).count() == 1)

    // combined arms with CDF: update 6, delete 8, insert 1000 — one
    // atomic commit, one change-feed sidecar
    Sinks.merge(spark,
      Some(Seq((6L, "u6", -6.0), (1000L, "ins", 0.0)).toDF("id", "v", "m")),
      Some(Seq(8L).toDF("id")),
      root, man, Seq("id"), mergeId = 3, cdf = true)
    val afterBoth = Sinks.readCommitted(spark, root, man)
    assert(afterBoth.count() == 98) // -1 delete +1 insert
    assert(afterBoth.filter($"id" === 6L).select("v").head().getString(0) == "u6")
    assert(afterBoth.filter($"id" === 8L).isEmpty)

    val changes = Sinks.readChanges(spark, root, man, fromBatch = 2, toBatch = 3)
      .select($"id", $"v", col(Sinks.ChangeTypeCol), $"_commit_batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(changes == Set(
      (6L, "v6", "update_preimage", 3),
      (6L, "u6", "update_postimage", 3),
      (1000L, "ins", "insert", 3),
      (8L, "v8", "delete", 3)))

    // an APPEND batch serves its rows as inserts through the same feed
    Sinks.appendBatch(Seq((2000L, "app", 1.0)).toDF("id", "v", "m"), root, 4)
    man.commit(4, Seq(s"$root/batch=4"))
    val appendFeed = Sinks.readChanges(spark, root, man, 3, 4)
    assert(appendFeed.count() == 1)
    assert(appendFeed.select(Sinks.ChangeTypeCol).head().getString(0) == "insert")

    // a key matched by BOTH arms is ambiguous — loud failure
    intercept[IllegalArgumentException] {
      Sinks.merge(spark, Some(Seq((10L, "x", 0.0)).toDF("id", "v", "m")),
        Some(Seq(10L).toDF("id")), root, man, Seq("id"), mergeId = 9)
    }

    // crash-orphan CDF dir (merge died before its commit): swept by
    // vacuum; committed batch=3's sidecar survives
    val orphan = java.nio.file.Paths.get(s"$root/_cdf/batch=7")
    java.nio.file.Files.createDirectories(orphan)
    val swept = Sinks.vacuum(root, man, graceMillis = 0)
    assert(swept.contains("_cdf/batch=7"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/_cdf/batch=3")))
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("merge probe prunes dirs by key-range stats; no forced broadcast") {
    import graft.sources.StatsSinks
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmp = java.nio.file.Files.createTempDirectory("merge_stats_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    // three stats-sidecar'd batches with disjoint key ranges
    for ((lo, b) <- Seq((0L, 0), (1000L, 1), (2000L, 2))) {
      StatsSinks.appendBatchStats(
        (lo until lo + 100L).map(i => (i, s"v$i")).toDF("id", "v"), root, b)
      man.commit(b, Seq(s"$root/batch=$b"))
    }
    // keys [1010, 1020] overlap ONLY batch=1 — stats prune 0 and 2
    // before any scan
    val keys = (1010L to 1020L).toDF("id")
    val cands = Sinks.statsCandidateDirs(spark, man.committedDirs(root),
      Sinks.keyRange(keys, Seq("id")), Seq("id"))
    assert(cands == Seq(s"$root/batch=1"), s"got $cands")
    // an empty key set (None range) keeps every dir
    assert(Sinks.keyRange(Seq.empty[Long].toDF("id"), Seq("id")).isEmpty)
    assert(Sinks.statsCandidateDirs(spark, man.committedDirs(root),
      None, Seq("id")) == man.committedDirs(root))

    // the merge itself: only batch=1 rewritten
    Sinks.mergeUpsert(spark,
      keys.select($"id", concat(lit("u"), $"id").as("v")),
      root, man, Seq("id"), mergeId = 5)
    assert(man.committedDirs(root).toSet ==
      Set(s"$root/batch=0", s"$root/batch=2", s"$root/batch=5"))
    assert(Sinks.readCommitted(spark, root, man).filter($"v".startsWith("u"))
      .count() == 11)

    // plan shape of the probe join: AQE broadcasts a small key set;
    // with broadcast disabled the SAME probe degrades to a shuffled
    // join (no driver-side OOM cliff) with identical results
    val current = spark.read.parquet(man.committedDirs(root): _*)
    def probeFiles(threshold: String): Set[String] = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", threshold)
      try Sinks.affectedFileProbe(current, (0L to 50L).toDF("id"), Seq("id"))
        .collect().map(_.getString(0)).toSet
      finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    val small = probeFiles("10485760")
    val shuffled = probeFiles("-1")
    assert(small == shuffled && small.nonEmpty)
    // and the shuffled variant's plan really has no broadcast arm
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sinks.affectedFileProbe(current, (0L to 50L).toDF("id"),
        Seq("id")).queryExecution.executedPlan
      assert(plan.collectWithSubqueries {
        case e: ShuffleExchangeExec => e }.nonEmpty, s"expected shuffle:\n$plan")
      assert(!plan.toString.contains("BroadcastHashJoin"),
        s"unexpected broadcast:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("compact + vacuum: atomic re-point, orphan cleanup, dual-root safety") {
    val tmp = java.nio.file.Files.createTempDirectory("sinks_compact_").toString
    val manifest = new TxnManifest(s"$tmp/_commits")
    // 3 committed fact batches + a sync side-table (dual-write manifest)
    for (i <- 0 until 3)
      Sinks.dualWriteAtomic(Seq((i.toLong, s"v$i")).toDF("id", "v"),
        Seq((i.toLong, i + 100L)).toDF("oldId", "newId"),
        s"$tmp/fact", s"$tmp/sync", manifest, i)
    // plus a crash orphan nothing committed
    Sinks.appendBatch(Seq((9L, "orphan")).toDF("id", "v"), s"$tmp/fact", 7)

    Sinks.compact(spark, s"$tmp/fact", manifest, compactId = 100, numFiles = 1)
    // same rows, one committed dir, sync side untouched
    val fact = Sinks.readCommitted(spark, s"$tmp/fact", manifest)
    assert(fact.count() == 3)
    assert(manifest.committedDirs(s"$tmp/fact") == Seq(s"$tmp/fact/batch=100"))
    assert(Sinks.readCommitted(spark, s"$tmp/sync", manifest).count() == 3)

    // the default grace period protects freshly-written dirs: a
    // concurrent producer between appendBatch and commit sits exactly
    // there, so nothing this young may be deleted
    assert(Sinks.vacuum(s"$tmp/fact", manifest).isEmpty)

    // with grace waived (no in-flight writers), vacuum removes the
    // compacted-away inputs AND the orphan, keeps live dirs
    val deleted = Sinks.vacuum(s"$tmp/fact", manifest, graceMillis = 0).sorted
    assert(deleted == Seq("batch=0", "batch=1", "batch=2", "batch=7"))
    assert(Sinks.readCommitted(spark, s"$tmp/fact", manifest).count() == 3)
    assert(Sinks.vacuum(s"$tmp/fact", manifest, graceMillis = 0).isEmpty) // idempotent
    assert(Sinks.vacuum(s"$tmp/sync", manifest, graceMillis = 0).isEmpty) // all sync dirs live

    // a compact id that still names other-root dirs is rejected
    intercept[IllegalArgumentException] {
      Sinks.compact(spark, s"$tmp/fact", manifest, compactId = 0, numFiles = 1)
    }
  }

  test("SchemaLog column mapping: rename is metadata-only, drop never resurrects") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("schemalog_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    val log = new graft.sources.SchemaLog(s"$tmp/_schema")
    def readBack() = graft.sources.SchemaLog
      .readCommittedMapped(spark, root, man, log)

    log.init(StructType(Seq(StructField("id", LongType),
      StructField("v", StringType))))
    graft.sources.SchemaLog.appendBatchMapped(
      Seq((1L, "a")).toDF("id", "v"), root, log, 0)
    man.commit(0, Seq(s"$root/batch=0"))

    // rename touches ZERO data files — batch 0's values appear under w
    log.rename("v", "w")
    graft.sources.SchemaLog.appendBatchMapped(
      Seq((2L, "b")).toDF("id", "w"), root, log, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    assert(readBack().columns.toSeq == Seq("id", "w"))
    assert(readBack().orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))

    // drop + re-add the same logical name: fresh physical id, so the
    // dropped data stays dead (the mergeSchema hazard this fixes)
    log.drop("w")
    log.add("w", StringType)
    graft.sources.SchemaLog.appendBatchMapped(
      Seq((3L, "c")).toDF("id", "w"), root, log, 2)
    man.commit(2, Seq(s"$root/batch=2"))
    val rows = readBack().orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, Some("c"))))

    // additive column serves NULL for earlier batches; a batch missing
    // a current logical column fails loudly
    log.add("m", DoubleType)
    intercept[IllegalArgumentException] {
      graft.sources.SchemaLog.appendBatchMapped(
        Seq((4L, "d")).toDF("id", "w"), root, log, 3)
    }
    graft.sources.SchemaLog.appendBatchMapped(
      Seq((4L, "d", 1.5)).toDF("id", "w", "m"), root, log, 3)
    man.commit(3, Seq(s"$root/batch=3"))
    val m = readBack().orderBy("id").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq
    assert(m == Seq(None, None, None, Some(1.5)))

    // MERGE composes with the mapping: logical keys/columns in, the
    // copy-on-write runs on physical files — update row 3, insert 5
    graft.sources.SchemaLog.mergeUpsertMapped(spark,
      Seq((3L, "c2", 9.0), (5L, "e", 2.5)).toDF("id", "w", "m"),
      root, man, log, keys = Seq("id"), mergeId = 10)
    val merged = readBack().orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(merged == Seq((1L, None), (2L, None), (3L, Some("c2")),
      (4L, Some("d")), (5L, Some("e"))))
    intercept[IllegalArgumentException] {
      graft.sources.SchemaLog.mergeUpsertMapped(spark,
        Seq((6L, "x")).toDF("id", "nope"), root, man, log, Seq("id"), 11)
    }

    // DELETE composes with the mapping too: the takedown purge by
    // logical key runs the copy-on-write on physical files
    graft.sources.SchemaLog.mergeDeleteMapped(spark,
      Seq(2L, 4L).toDF("id"), root, man, log, keys = Seq("id"), mergeId = 12)
    assert(readBack().orderBy("id").select("id").as[Long].collect()
      .toSeq == Seq(1L, 3L, 5L))
    intercept[IllegalArgumentException] {
      graft.sources.SchemaLog.mergeDeleteMapped(spark,
        Seq(1L).toDF("ghost"), root, man, log, Seq("ghost"), 13)
    }
  }

  test("pollChanges: consumers tail row-level deltas with a persisted offset") {
    import graft.sources.ManifestConsumer
    import graft.ops.Cdc
    val tmp = java.nio.file.Files.createTempDirectory("cdf_poll_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    val offsets = new Cdc.WatermarkStore(spark, s"$tmp/offsets", initial = 0L)
    Sinks.appendBatch((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))

    // poll 1: the append arrives as inserts
    var seen = Vector.empty[(Long, String, String, Int)]
    def drain(): Option[Int] =
      ManifestConsumer.pollChanges(spark, man, root, offsets, "c1") {
        (df, _) => seen ++= df
          .select($"id", $"v", col(Sinks.ChangeTypeCol), $"_commit_batch")
          .collect().map(r =>
            (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      }
    assert(drain().contains(1))
    assert(seen.map(_._3).toSet == Set("insert") && seen.size == 6)

    // a MERGE (update 2, delete 5, insert 10) lands; poll 2 sees the
    // row-level deltas, not the rewritten batch contents
    seen = Vector.empty
    Sinks.merge(spark, Some(Seq((2L, "u2"), (10L, "new")).toDF("id", "v")),
      Some(Seq(5L).toDF("id")), root, man, Seq("id"), mergeId = 2, cdf = true)
    assert(drain().contains(2))
    assert(seen.toSet == Set(
      (2L, "v2", "update_preimage", 2), (2L, "u2", "update_postimage", 2),
      (10L, "new", "insert", 2), (5L, "v5", "delete", 2)))

    // drained: nothing re-delivered; a second consumer group tails
    // independently from ITS offset
    assert(drain().isEmpty)
    // cold-start replay: the merge UN-NAMED batch 1, but batch 1's
    // commit-time dirs are recovered from the claim tombstones
    // (round 10 — Delta's version-v files stay addressable until
    // VACUUM), so a from-scratch consumer receives the COMPLETE
    // history: batch 1's six inserts plus batch 2's deltas
    var cold = Vector.empty[(Long, String, String, Int)]
    ManifestConsumer.pollChanges(spark, man, root, offsets, "c2") {
      (df, _) => cold ++= df
        .select($"id", $"v", col(Sinks.ChangeTypeCol), $"_commit_batch")
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    }
    assert(cold.filter(_._4 == 1).toSet ==
      (1L to 6L).map(i => (i, s"v$i", "insert", 1)).toSet,
      "collapsed append must replay from its claim-recorded dirs")
    assert(cold.filter(_._4 == 2).toSet == Set(
      (2L, "v2", "update_preimage", 2), (2L, "u2", "update_postimage", 2),
      (10L, "new", "insert", 2), (5L, "v5", "delete", 2)))
    // bootstrap: snapshot handed to the consumer FIRST, offset
    // committed after (offset-after-sink, like every poll form)
    var snapCount = -1L
    val off = ManifestConsumer.bootstrap(spark, man, root, offsets, "c2") {
      (snapshot, _) => snapCount = snapshot.count()
    }
    assert(snapCount == 6 && off == 2)
    var n2 = -1
    val polled = ManifestConsumer.pollChanges(spark, man, root, offsets, "c2") {
      (df, _) => n2 = df.count().toInt
    }
    assert(polled.isEmpty && n2 == -1) // bootstrapped consumers are current

    // a merge whose change set is EMPTY (deletes matching nothing):
    // the sidecar holds a zero-row schema-carrying file, the feed
    // serves zero deltas (not a crash), the offset advances
    Sinks.mergeDelete(spark, Seq(777L).toDF("id"), root, man,
      Seq("id"), mergeId = 3, cdf = true)
    var n3 = -1
    assert(ManifestConsumer.pollChanges(spark, man, root, offsets, "c1") {
      (df, _) => n3 = df.count().toInt
    }.contains(3))
    assert(n3 == 0)
    assert(drain().isEmpty) // offset really advanced past batch 3

    // MAINTENANCE is dataChange=false: a compaction rewrites the same
    // rows, so the feed serves ZERO deltas for it — without the
    // marker every consumer past the compaction id would re-receive
    // the whole table as inserts
    Sinks.compact(spark, root, man, compactId = 9, numFiles = 1)
    var n9 = -1
    assert(ManifestConsumer.pollChanges(spark, man, root, offsets, "c1") {
      (df, _) => n9 = df.count().toInt
    }.contains(9))
    assert(n9 == 0)
    assert(Sinks.readCommitted(spark, root, man).count() == 6) // data intact

    // a cdf=false merge that matched NOTHING is a pure insert: the
    // feed serves its target dir as inserts — no marker, no spurious
    // re-bootstrap demand
    Sinks.mergeUpsert(spark, Seq((3000L, "i1"), (3001L, "i2")).toDF("id", "v"),
      root, man, Seq("id"), mergeId = 12)
    var ins = Vector.empty[(Long, String)]
    assert(ManifestConsumer.pollChanges(spark, man, root, offsets, "c1") {
      (df, _) => ins = df.select($"id", col(Sinks.ChangeTypeCol))
        .collect().map(r => (r.getLong(0), r.getString(1))).toVector
    }.contains(12))
    assert(ins.toSet == Set((3000L, "insert"), (3001L, "insert")))

    // delete EVERYTHING: the table stays readable (zero rows, schema
    // intact) and a later insert re-populates it
    Sinks.mergeDelete(spark, (1L to 4000L).toDF("id"), root, man,
      Seq("id"), mergeId = 14)
    assert(Sinks.readCommitted(spark, root, man).count() == 0)
    assert(Sinks.readCommitted(spark, root, man).columns.toSeq ==
      Seq("id", "v"))
    Sinks.mergeUpsert(spark, Seq((50L, "back")).toDF("id", "v"),
      root, man, Seq("id"), mergeId = 15)
    assert(Sinks.readCommitted(spark, root, man).count() == 1)
  }

  test("appendBatchChecked: CHECK constraints gate the write, NULL violates") {
    import graft.sources.StatsSinks
    import org.apache.spark.sql.functions.{col => c}
    val tmp = java.nio.file.Files.createTempDirectory("checked_").toString
    val root = s"$tmp/t"
    val good = Seq((1L, 5.0), (2L, 7.5)).toDF("id", "m")
    StatsSinks.appendBatchChecked(good, root, 0,
      Map("m_positive" -> (c("m") > 0), "id_known" -> c("id").isNotNull))
    assert(spark.read.parquet(s"$root/batch=0").count() == 2)

    // one bad row rejects the WHOLE batch, named with its count;
    // a NULL predicate value counts as a violation (cannot prove true)
    val bad = Seq((3L, 1.0), (4L, -2.0), (5L, Double.NaN), (6L, 3.0))
      .toDF("id", "m")
      .withColumn("m", org.apache.spark.sql.functions
        .when(c("id") === 5L, org.apache.spark.sql.functions.lit(null))
        .otherwise(c("m")))
    val e = intercept[IllegalStateException] {
      StatsSinks.appendBatchChecked(bad, root, 1,
        Map("m_positive" -> (c("m") > 0)))
    }
    assert(e.getMessage.contains("m_positive (2 rows)"), e.getMessage)
    assert(!new java.io.File(s"$root/batch=1").exists, "nothing must land")
  }

  test("TxnManifest CAS: stale producer fails loudly; crashed commit recovers idempotently") {
    val tmp = java.nio.file.Files.createTempDirectory("man_cas_").toString

    // two producers interleave: A commits version 2 first; B — whose
    // snapshot was taken at version 1 — must lose LOUDLY, and A's
    // commit must survive untouched (no silent last-write-wins)
    val p1 = s"$tmp/_commits_race"
    val man = new TxnManifest(p1)
    man.commit(0, Seq("/data/batch=0"))
    assert(man.version() == 1)
    // producer A's winning claim for version 2 (it crashed before the
    // manifest write, or is mid-commit — indistinguishable to B)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$p1.v2"), "#version=2\n5\t/data/batch=5\n")
    val e = intercept[java.util.ConcurrentModificationException] {
      man.commit(1, Seq("/data/batch=1"))
    }
    assert(e.getMessage.contains("already claimed"))
    // no torn state: the manifest still serves exactly version 1
    assert(man.version() == 1)
    assert(man.committed() == Map(0 -> Seq("/data/batch=0")))

    // crash recovery: the SAME producer re-runs the SAME batch — the
    // re-rendered claim is byte-identical, so the commit completes
    // instead of refusing
    val p2 = s"$tmp/_commits_crash"
    val man2 = new TxnManifest(p2)
    man2.commit(0, Seq("/d/batch=0"))
    val entries = man2.committed() + (7 -> Seq("/d/batch=7"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$p2.v2"),
      man2.renderBody(2, entries)) // claim landed, manifest write lost
    man2.commit(7, Seq("/d/batch=7")) // idempotent re-run: no throw
    assert(man2.version() == 2)
    assert(man2.committed() ==
      Map(0 -> Seq("/d/batch=0"), 7 -> Seq("/d/batch=7")))

    // fencing persists across many versions: claims are tombstones, so
    // a writer stale by SEVERAL commits is still refused
    for (i <- 10 to 12) man2.commit(i, Seq(s"/d/batch=$i"))
    assert(man2.version() == 5)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$p2.v6"),
      "#version=6\n99\t/d/batch=99\n")
    intercept[java.util.ConcurrentModificationException] {
      man2.commit(13, Seq("/d/batch=13"))
    }
    assert(!man2.committed().contains(13) && !man2.committed().contains(99))
  }

  test("manifest history and RESTORE from claim tombstones") {
    import graft.sources.VersionChange
    val tmp = java.nio.file.Files.createTempDirectory("man_hist_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    def mk(b: Int): String = {
      Sinks.appendBatch(Seq((b.toLong, s"v$b")).toDF("id", "v"), root, b)
      s"$root/batch=$b"
    }
    val d0 = mk(0); man.commit(0, Seq(d0))          // v1: append
    val d1 = mk(1); man.commit(1, Seq(d1))          // v2: append
    val d2 = mk(2); man.replaceDirs(Set(d0), 2, Seq(d2)) // v3: merge shape
    assert(man.history() == Seq(
      VersionChange(1, added = Seq(d0), removed = Nil),
      VersionChange(2, added = Seq(d1), removed = Nil),
      VersionChange(3, added = Seq(d2), removed = Seq(d0))))

    // RESTORE to the pre-merge view: nothing rewritten on disk, the
    // view flips as a NEW fenced version and lands in history
    man.restoreTo(2)
    assert(man.version() == 4)
    assert(man.committedDirs(root).toSet == Set(d0, d1))
    assert(Sinks.readCommitted(spark, root, man)
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
    assert(man.history().last ==
      VersionChange(4, added = Seq(d0), removed = Seq(d2)))
    // the un-restored merge output is now an orphan: vacuumable
    assert(Sinks.vacuum(root, man, graceMillis = 0).contains("batch=2"))

    intercept[IllegalArgumentException] { man.restoreTo(0) }
    intercept[IllegalArgumentException] { man.restoreTo(4) } // current
  }

  test("manifest replacement is atomic under a concurrent reader") {
    // regression guard for the FileContext refactor: RawLocalFs's
    // default rename(OVERWRITE) is delete-then-rename, and a reader in
    // that window saw an EMPTY manifest (a streaming consumer's
    // latestOffset re-delivered history). The scheme-dispatched rename
    // must never expose an empty or torn view mid-commit.
    val path = java.nio.file.Files.createTempDirectory("atomic_").toString +
      "/man.tsv"
    val man = new TxnManifest(path)
    man.commit(0, Seq("/data/batch=0"))
    @volatile var stop = false
    @volatile var failure: Option[String] = None
    val reader = new Thread(() => {
      var last = 0
      while (!stop && failure.isEmpty) {
        val m = man.committed()
        if (m.isEmpty) failure = Some("observed EMPTY manifest mid-commit")
        else {
          val ids = m.keySet
          if (!ids.contains(0)) failure = Some(s"lost batch 0: $ids")
          val hi = ids.max
          if (hi < last) failure = Some(s"went backwards: $hi < $last")
          last = hi
        }
      }
    })
    reader.start()
    for (i <- 1 to 300) man.commit(i, Seq(s"/data/batch=$i"))
    stop = true
    reader.join(10000)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(man.committed().keySet == (0 to 300).toSet)
  }

  test("writePartitioned: key filter prunes to the selected partition dirs") {
    val tmp = java.nio.file.Files.createTempDirectory("sinks_part_").toString
    val df = (1 to 300).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "k", "v")
    Sinks.writePartitioned(df, s"$tmp/t", Seq("k"))
    val pruned = spark.read.parquet(s"$tmp/t").filter($"k" === 1)
    assert(pruned.count() == 100)
    // partition pruning is real: the key predicate lands in the scan's
    // PartitionFilters (directory-level pruning), not a row filter.
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("k")),
      s"k=1 must be a partition filter, got: ${scan.partitionFilters}")
    assert(scan.relation.partitionSchema.fieldNames.sameElements(Array("k")))
  }

  test("createExclusive: racing claimers serialize atomically; claims are never torn") {
    import graft.util.AtomicText
    val tmp = java.nio.file.Files.createTempDirectory("claim_race_").toString
    // 16 threads race ONE claim with distinct bodies: exactly one may
    // win, and the surviving file must be the winner's COMPLETE body
    // (check-then-create would let several "win"; a non-atomic body
    // write could leave a torn/empty claim)
    val claim = s"$tmp/m.v1"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = (0 until 16).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          if (AtomicText.createExclusive(claim, s"#version=1\n$i\t/d/b=$i\n"))
            wins.incrementAndGet()
          ()
        }
      })
    }
    gate.countDown()
    futures.foreach(_.get())
    pool.shutdown()
    assert(wins.get() == 1, s"${wins.get()} claimers won the same claim")
    val body = AtomicText.readAll(claim)
    assert(body.startsWith("#version=1\n") && body.endsWith("\n") &&
      body.linesIterator.size == 2, s"torn claim body: '$body'")
    // no orphan temp files linger after the race settles
    val leftovers = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.contains(".claim-"))
    assert(leftovers.isEmpty, s"orphan claim temps: ${leftovers.toSeq}")
  }

  test("history carries state past a missing claim tombstone (no phantom churn)") {
    import graft.sources.VersionChange
    val tmp = java.nio.file.Files.createTempDirectory("man_gap_").toString
    val man = new TxnManifest(s"$tmp/_commits")
    man.commit(0, Seq("/d/batch=0"))  // v1
    man.commit(1, Seq("/d/batch=1"))  // v2
    man.commit(2, Seq("/d/batch=2"))  // v3
    // a pre-CAS upgrade (or operator cleanup) lost v2's tombstone:
    // v2 must read as no-change — NOT everything-removed-then-re-added
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/_commits.v2"))
    assert(man.history() == Seq(
      VersionChange(1, added = Seq("/d/batch=0"), removed = Nil),
      VersionChange(2, added = Nil, removed = Nil),
      VersionChange(3, added = Seq("/d/batch=1", "/d/batch=2"), removed = Nil)))
  }

  test("batch commit is fenced off a sink-owned epoch id") {
    val tmp = java.nio.file.Files.createTempDirectory("sink_fence_").toString
    val manPath = s"$tmp/_commits"
    val man = new TxnManifest(manPath)
    man.commit(0, Seq("/d/batch=0"))
    // a streaming sink claims epoch 1 (task-side, BEFORE its manifest
    // commit) — the claim-to-commit window a batch producer must not
    // be able to slip a commit of the same id through
    graft.util.AtomicText.createExclusive(s"$manPath.sink/1", "query-abc\n")
    val e = intercept[IllegalStateException] {
      man.commit(1, Seq("/d/batch=1"))
    }
    assert(e.getMessage.contains("claimed by streaming query query-abc"))
    assert(!man.committed().contains(1)) // nothing landed
    // compaction/merge ids are fenced the same way
    intercept[IllegalStateException] {
      man.replaceAll("/d", 1, Seq("/d/batch=1c"))
    }
    // the OWNING sink's driver-side commit of its epoch proceeds
    man.commit(1, Seq("/d/batch=1"), sinkQueryId = Some("query-abc"))
    assert(man.committed()(1) == Seq("/d/batch=1"))
    // other ids are unaffected by the claim
    man.commit(2, Seq("/d/batch=2"))
    assert(man.version() == 3)
  }

  test("gzip members: framing round trip, optional fields, corruption refusals") {
    import graft.sources.WarcFile
    def membersOf(bytes: Array[Byte]): Seq[Array[Byte]] =
      new WarcFile.GzipMemberIterator(
        new java.io.ByteArrayInputStream(bytes)).toSeq
    // concatenated members round-trip, incl. an empty payload and one
    // spanning several refill buffers (> 64 KiB)
    val payloads = Seq("alpha".getBytes, Array.empty[Byte],
      Array.tabulate(200000)(i => (i % 251).toByte))
    val cat = payloads.map(WarcFile.gzipMember).reduce(_ ++ _)
    val got = membersOf(cat)
    assert(got.map(_.toSeq) == payloads.map(_.toSeq))
    // optional header fields (FEXTRA + FNAME + FCOMMENT + FHCRC) —
    // foreign writers emit them; the walker must skip all four
    val body = {
      val d = new java.util.zip.Deflater(-1, true)
      d.setInput("hello".getBytes); d.finish()
      val buf = new Array[Byte](64)
      val out = new java.io.ByteArrayOutputStream
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val crc = new java.util.zip.CRC32
    crc.update("hello".getBytes)
    val fancy = new java.io.ByteArrayOutputStream
    fancy.write(Array[Byte](0x1f, 0x8b.toByte, 8, (1 | 2 | 4 | 8 | 16).toByte,
      0, 0, 0, 0, 0, 3), 0, 10)
    fancy.write(Array[Byte](2, 0, 9, 9), 0, 4)        // FEXTRA xlen=2
    fancy.write("name.warc".getBytes); fancy.write(0)  // FNAME
    fancy.write("a comment".getBytes); fancy.write(0)  // FCOMMENT
    fancy.write(Array[Byte](0x12, 0x34), 0, 2)         // FHCRC (unchecked)
    fancy.write(body, 0, body.length)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    fancy.write(le32(crc.getValue), 0, 4)
    fancy.write(le32(5L), 0, 4)
    assert(membersOf(fancy.toByteArray).map(new String(_)) == Seq("hello"))
    // a flipped payload bit fails the CRC loudly; a lying ISIZE too
    val one = WarcFile.gzipMember("corrupt me please now".getBytes)
    val flip = one.clone(); flip(12) = (flip(12) ^ 0x40).toByte
    val e1 = intercept[Exception](membersOf(flip))
    assert(e1.getMessage.contains("CRC") || e1.getMessage.contains("invalid"),
      e1.getMessage)
    val lie = one.clone()
    lie(lie.length - 4) = (lie(lie.length - 4) ^ 1).toByte
    val e2 = intercept[IllegalArgumentException](membersOf(lie))
    assert(e2.getMessage.contains("ISIZE"), e2.getMessage)
    // truncated trailer refuses
    val cut = java.util.Arrays.copyOf(one, one.length - 3)
    intercept[Exception](membersOf(cut))
  }

  test("graft-warc reader: pushdown, pruning, multi-file split, plain .warc") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc_src_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    graft.sources.WarcGz.writeCorpus(docs, "doc_id", "text", dir, nFiles = 4)
    val nDocs = docs.count()
    val nFilesOnDisk = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".warc.gz"))
    assert(nFilesOnDisk == 4, s"$nFilesOnDisk files")
    val recs = spark.read.format("graft-warc").load(dir)
    assert(recs.count() == 3 * nDocs)
    // file grain = split grain: one task per file
    assert(recs.rdd.getNumPartitions == 4)
    // rtype pushdown reaches the scan (visible in the plan) and the
    // result is exactly the responses
    val resp = recs.filter($"rtype" === "response")
    val plan = resp.queryExecution.executedPlan.toString
    assert(plan.contains("pushedFilters=[EqualTo(rtype,response)]"),
      s"rtype filter must reach the scan:\n$plan")
    assert(resp.count() == nDocs)
    // column pruning reaches the reader: payload absent from ReadSchema
    val slim = recs.select($"rtype", $"rec_id")
    val slimPlan = slim.queryExecution.executedPlan.toString
    assert(!slimPlan.contains("payload"),
      s"payload must prune from the scan:\n$slimPlan")
    // record ids join back to the corpus; uris match the generator
    val ids = recs.filter($"rtype" === "response")
      .select(regexp_extract($"rec_id", "urn:graft:([0-9]+)", 1)
        .cast("long").as("doc_id"))
    assert(ids.join(docs, Seq("doc_id"), "left_anti").count() == 0)
    // uri-prefix pushdown: per-host slices of a shared archive are
    // the common read — the filter reaches the scan and skipped
    // records never build rows (warcinfo records have NO uri and a
    // pushed prefix drops them; the count is responses+requests on
    // the odd-id side only)
    val oddIds = docs.filter($"doc_id" % 2 === 1).count()
    val sliced = recs.filter($"uri".startsWith("https://"))
    val slicedPlan = sliced.queryExecution.executedPlan.toString
    assert(slicedPlan.contains("StringStartsWith(uri,https://)"),
      s"uri prefix must reach the scan:\n$slicedPlan")
    assert(sliced.count() == 2 * oddIds)
    // conjunction with rtype: both prune before row construction
    assert(recs.filter($"uri".startsWith("https://") &&
      $"rtype" === "response").count() == oddIds)
    // a plain (uncompressed) .warc file reads through the same source
    val plainDir = java.nio.file.Files
      .createTempDirectory("warc_plain_").toString
    val capsule = docs.orderBy($"doc_id").limit(2)
      .select(graft.text.WarcExtract.renderWarc($"doc_id",
        split($"text", " ")).as("w"))
      .collect().map(_.getString(0)).mkString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$plainDir/one.warc"),
      capsule.getBytes("ISO-8859-1"))
    val plain = spark.read.format("graft-warc").load(plainDir)
    assert(plain.count() == 6)
    assert(plain.filter($"rtype" === "response").count() == 2)
  }

  test("graft-warc: nested layout, loud empty match, session conf, metrics") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = java.nio.file.Files.createTempDirectory("warc_nest_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(40)
    val nDocs = docs.count()
    // Common Crawl's segments/*/warc/ shape: files two levels down
    graft.sources.WarcGz.writeCorpus(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", s"$root/segments/s0/warc", nFiles = 2)
    graft.sources.WarcGz.writeCorpus(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", s"$root/segments/s1/warc", nFiles = 2)
    val recs = spark.read.format("graft-warc").load(root)
    assert(recs.count() == 3 * nDocs, "recursive listing must find nested files")
    // a root with zero matching files refuses loudly on the batch path
    val empty = java.nio.file.Files.createTempDirectory("warc_none_").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$empty/sub"))
    val e = intercept[Exception](
      spark.read.format("graft-warc").load(empty).count())
    assert(e.getMessage.contains("0 .warc"), e.getMessage)
    // the reader resolves paths through the SESSION hadoop conf: a
    // conf-only setting must be visible at plan time (newHadoopConf
    // carries spark.hadoop.* — pin the plumbing, not just defaults)
    spark.sessionState.newHadoopConf() // smoke: session conf path exists
    // scan metrics: responses-only read reports the skipped records
    val resp = spark.read.format("graft-warc").load(root)
      .filter($"rtype" === "response")
    resp.collect()
    val scan = resp.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
    assert(scan.metrics("warcMembersRead").value == 3 * nDocs)
    assert(scan.metrics("warcRecordsRead").value == nDocs)
    assert(scan.metrics("warcRecordsSkipped").value == 2 * nDocs)
    assert(scan.metrics("warcBytesInflated").value > 0)
  }

  test("graft-warc CDX coordinates tile each file; fetch == scan bytes") {
    import org.apache.spark.sql.functions._
    import graft.sources.WarcFetch
    val dir = java.nio.file.Files.createTempDirectory("warc_cdx_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(30)
    graft.sources.WarcGz.writeCorpus(docs, "doc_id", "text", dir,
      nFiles = 2, encodeHttp = true)
    // coordinate geometry: per file, offsets start at 0 and each
    // member begins where the previous ended, summing to the file
    // size — the invariant seek-addressing rests on
    val cdx = WarcFetch.cdxIndex(spark, dir, rtype = None)
    val byFile = cdx.select($"file", $"offset", $"length")
      .distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(
        _.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)).toMap
    assert(byFile.size == 2)
    byFile.foreach { case (f, coords) =>
      assert(coords.head._1 == 0L, s"$f: first member not at offset 0")
      coords.sliding(2).foreach {
        case Array((o1, l1), (o2, _)) =>
          assert(o1 + l1 == o2, s"$f: gap/overlap at member offset $o2")
        case _ => ()
      }
      val size = new java.io.File(new java.net.URI(f).getPath).length
      assert(coords.map(_._2).sum == size,
        s"$f: member lengths don't sum to the file size")
    }
    // random-access fetch returns byte-identical records to the scan
    val wanted = cdx.filter($"rtype" === "response")
    val hits = WarcFetch.fetch(wanted)
    assert(hits.count() == docs.count())
    val full = spark.read.format("graft-warc").load(dir)
      .filter($"rtype" === "response")
      .select($"rec_id", $"payload".as("scan_payload"))
    val mismatch = hits.join(full, Seq("rec_id"))
      .filter($"payload" =!= $"scan_payload").count()
    assert(mismatch == 0, "seek-fetched payload differs from scan payload")
    // plain .warc: the scan reports whole-file coordinates and fetch
    // serves them through the same entry point
    val plainDir = java.nio.file.Files
      .createTempDirectory("warc_cdx_plain_").toString
    val capsule = docs.orderBy($"doc_id").limit(2)
      .select(graft.text.WarcExtract.renderWarc($"doc_id",
        split($"text", " ")).as("w"))
      .collect().map(_.getString(0)).mkString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$plainDir/one.warc"),
      capsule.getBytes("ISO-8859-1"))
    val pcdx = WarcFetch.cdxIndex(spark, plainDir, rtype = None)
    val prows = pcdx.select($"offset", $"length").distinct().collect()
    assert(prows.length == 1 && prows.head.getLong(0) == 0L)
    assert(prows.head.getLong(1) ==
      new java.io.File(s"$plainDir/one.warc").length)
    // fetch is MEMBER-grain: all six records share the whole-file
    // member here, so distinct coordinates fetch once and yield all
    assert(WarcFetch.fetch(
      pcdx.select($"file", $"offset", $"length").distinct()).count() == 6)
  }

  test("dirSchema: driver-side footer schema == Spark's inference, with no job") {
    val tmp = java.nio.file.Files.createTempDirectory("dir_schema_").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(12, 2)),
      StructField("big", DecimalType(30, 4), nullable = false),
      StructField("name", StringType),
      StructField("day", DateType),
      StructField("at", TimestampType, nullable = false),
      StructField("tags", ArrayType(IntegerType, containsNull = false)),
      StructField("attrs", MapType(StringType, DoubleType)),
      StructField("inner", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType))))))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, BigDecimal("1.50").bigDecimal,
        BigDecimal("123456789.1234").bigDecimal, "x",
        java.sql.Date.valueOf("2025-01-02"),
        java.sql.Timestamp.valueOf("2025-01-02 03:04:05"), Seq(1, 2),
        Map("k" -> 1.0), org.apache.spark.sql.Row(7, "y")),
      org.apache.spark.sql.Row(2L, null, BigDecimal("0").bigDecimal, null, null,
        java.sql.Timestamp.valueOf("2025-02-03 00:00:00"), null, null, null))
    val dirs = (0 until 2).map { b =>
      Sinks.appendBatch(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema), s"$tmp/t", b)
      s"$tmp/t/batch=$b"
    }
    // cold: neither dir's schema is memoized yet, and building the
    // frame starts no Spark job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.TestConfBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val read =
      try {
        val df = Sinks.readDirs(spark, dirs, None)
        org.apache.spark.graftbridge.TestConfBridge.drainListenerBus(spark.sparkContext)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs for a cold readDirs")
    dirs.foreach(d => assert(Sinks.dirSchema(spark, d).contains(
      spark.read.parquet(d).schema), d))
    assert(read.schema == spark.read.parquet(dirs: _*).schema)
    assert(read.count() == 4)
  }

  test("mergedSchemaOpt: an evolved table still reads its merged schema") {
    import graft.sources.GraftManifestSource
    val tmp = java.nio.file.Files.createTempDirectory("merged_schema_").toString
    val root = s"$tmp/t"
    val man = new TxnManifest(s"$tmp/_commits")
    Sinks.appendBatch(Seq((1L, "a")).toDF("id", "v"), root, 0)
    man.commit(0, Seq(s"$root/batch=0"))
    Sinks.appendBatch(Seq((2L, "b", 2.5)).toDF("id", "v", "extra"), root, 1)
    man.commit(1, Seq(s"$root/batch=1"))
    val merged = spark.read.option("mergeSchema", true)
      .parquet(s"$root/batch=0", s"$root/batch=1").schema
    assert(GraftManifestSource.mergedSchemaOpt(spark, root, man.path)
      .contains(merged))
    assert(merged.fieldNames.toSeq == Seq("id", "v", "extra"))
    // the change feed serves the merged data columns plus its two
    val feed = spark.read.format("graft-manifest")
      .option("manifest", man.path).option("changeFeed", "true").load(root)
    assert(feed.columns.toSeq ==
      Seq("id", "v", "extra", Sinks.ChangeTypeCol, "_commit_batch"))
    assert(feed.where($"id" === 1L).select("extra").head().isNullAt(0))
  }
}

