package graft

import org.apache.spark.sql.functions._
import graft.text.{DedupIndex, MinHash}

/** Incremental dedup-index semantics: ingesting the corpus batch by
  * batch must discover exactly the pairs the one-shot pipeline finds
  * on the full corpus — cross-batch pairs included — and a re-run of
  * a batch (crash retry) must leave the index unchanged. */
class IndexSpec extends SparkSuite {
  import spark.implicits._

  private def corpus() = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    // planted near-dups ACROSS the batch split (originals are even ids,
    // copies odd) so cross-batch discovery is actually exercised
    docs.unionAll(docs.filter($"doc_id" % 20 === 0)
      .select(($"doc_id" + 1000001L).as("doc_id"),
        concat($"text", lit(" tail")).as("text")))
  }

  private def pairKey(df: org.apache.spark.sql.DataFrame) =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batch-wise ingest == one-shot pairs, cross-batch pairs included") {
    val tmp = java.nio.file.Files.createTempDirectory("dedup_idx_").toString
    val all = corpus()
    val batch0 = all.filter($"doc_id" % 2 === 0)
    val batch1 = all.filter($"doc_id" % 2 === 1)

    val p0 = pairKey(DedupIndex.ingestBatch(batch0, "doc_id", "text", tmp, 0))
    val p1 = pairKey(DedupIndex.ingestBatch(batch1, "doc_id", "text", tmp, 1))
    val oneShot = pairKey(MinHash.nearDupPairs(all, "doc_id", "text"))

    assert(oneShot.nonEmpty, "corpus must contain near-dup pairs")
    // batch 1's copies pair with batch 0's originals — the cross-batch
    // case an index exists for
    val cross = p1.filter { case (a, b) => a % 2 == 0 && b % 2 == 1 }
    assert(cross.nonEmpty, "expected cross-batch pairs via the stored index")
    assert((p0 ++ p1) == oneShot)

    // crash retry: re-ingesting batch 1 overwrites its own index dirs
    // (same rows) and rediscovers the same pairs — as a MULTISET:
    // comparing sets alone would mask duplicated rows from the
    // retry's own data still being visible in the stored index
    val p1againDf = DedupIndex.ingestBatch(batch1, "doc_id", "text", tmp, 1)
    assert(p1againDf.count() == p1.size, "retry must not duplicate pair rows")
    assert(pairKey(p1againDf) == p1)
    val bandRows = spark.read.parquet(s"$tmp/bands").count()
    val setRows  = spark.read.parquet(s"$tmp/sets").count()
    assert(setRows == all.count())
    assert(bandRows == setRows * 4) // 8 hashes / 2 rows-per-band
  }

  test("torn batch (either orphan direction) is invisible; retry restores it") {
    // the writes overlap (round 17), so a crash can leave EITHER side
    // of a batch as the orphan — both-present gating must make the
    // torn batch read as never-ingested, and the batch retry must
    // land both partitions and rediscover its pairs
    val tmp = java.nio.file.Files.createTempDirectory("dedup_idx_torn_").toString
    val batchA = Seq(
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely unrelated payload with different words entirely"))
      .toDF("doc_id", "text")
    val batchB = Seq( // near-dup of id 2, lands in a LATER batch
      (3L, "the quick brown fox jumps over the lazy dog tonight yes"))
      .toDF("doc_id", "text")
    DedupIndex.ingestBatch(batchA, "doc_id", "text", tmp, 0)
    // simulate the probe-side orphan (the direction the old ordered
    // writes made impossible): batch 0's sets partition vanishes
    val setsDir = new java.io.File(s"$tmp/sets/batch=0")
    assert(setsDir.exists)
    setsDir.listFiles.foreach(_.delete()); setsDir.delete()
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(tmp.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(12)
    spark.sql(s"ALTER TABLE graft_idx_sets_$tag " +
      "DROP IF EXISTS PARTITION (batch='0')")
    // batch 0 is now torn: a later ingest must see NO stored rows
    // from it — batch 1 finds no cross-batch pair, loses nothing else
    val p1 = pairKey(DedupIndex.ingestBatch(batchB, "doc_id", "text", tmp, 1))
    assert(p1.isEmpty, s"torn batch leaked into the probe: $p1")
    // retry of the torn batch overwrites both partitions and the
    // cross-batch pair reappears (batch 1 is now the stored side)
    val p0 = pairKey(DedupIndex.ingestBatch(batchA, "doc_id", "text", tmp, 0))
    assert(p0 == Set((2L, 3L)), s"retry must restore the torn batch: $p0")
  }

  test("catalog loss: index data survives and re-registers, never overwritten") {
    // the restart scenario ensureTable exists for: the session catalog
    // entry (a metastore in production) is gone but the index DATA on
    // disk survived — the next ingest must RE-REGISTER the external
    // tables and still find cross-batch pairs against the old data.
    // The failure mode this guards is the saveAsTable(Overwrite)
    // first-write path silently destroying the accumulated index.
    val tmp = java.nio.file.Files.createTempDirectory("dedup_idx_rs_").toString
    val batchA = Seq(
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely unrelated payload with different words entirely"))
      .toDF("doc_id", "text")
    val batchB = Seq( // near-dup of id 2, lands in a LATER batch
      (3L, "the quick brown fox jumps over the lazy dog tonight yes"))
      .toDF("doc_id", "text")
    DedupIndex.ingestBatch(batchA, "doc_id", "text", tmp, 0)

    // simulate the restart: drop the session-catalog entries (EXTERNAL
    // tables — data stays), as a fresh JVM would present them
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_idx_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(spark.read.parquet(s"$tmp/bands").count() > 0,
      "index data must survive the catalog drop")

    val pairs = pairKey(DedupIndex.ingestBatch(batchB, "doc_id", "text", tmp, 1))
    assert(pairs == Set((2L, 3L)),
      s"cross-batch pair against pre-restart data expected, got $pairs")
    // and batch 0's rows are still in the re-registered index
    assert(spark.read.parquet(s"$tmp/sets").count() == 3)
  }

  test("PhashIndex: audio fingerprints ingest batch-wise == one-shot; geometry pinned") {
    import graft.multimodal.{MediaContent, PhashIndex}
    val tmp = java.nio.file.Files.createTempDirectory("ph_idx_a_").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id")
    val fps = MediaContent.fingerprintAudio(
      MediaContent.audioFromDocuments(spark, docs)).toDF()
      .select($"doc_id".as("id"), $"fp_hi".as("hi"), $"fp_lo".as("lo"))
      .localCheckpoint()
    val n = fps.count()
    val bits = graft.sim.HammingBands.bits(n, occ = 4)
    // one-shot: all pairs via a single full-corpus ingest into a
    // scratch index
    val oneTmp = java.nio.file.Files.createTempDirectory("ph_idx_b_").toString
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = key(PhashIndex.ingestBatch(fps, oneTmp, 0, bits))
    // batch-wise: %2 split (planted pairs (2k, 2k+1) are cross-batch)
    val p0 = key(PhashIndex.ingestBatch(
      fps.filter($"id" % 2 === 0), tmp, 0, bits))
    val p1 = key(PhashIndex.ingestBatch(
      fps.filter($"id" % 2 === 1), tmp, 1, bits))
    assert(oneShot.nonEmpty, "audio corpus must contain near-dup pairs")
    val cross = p1.filter { case (a, b) => a % 2 != b % 2 }
    assert(cross.nonEmpty, "expected cross-batch pairs via stored bands")
    assert((p0 ++ p1) == oneShot)
    // geometry is an index invariant: a mismatched width refuses
    val e = intercept[IllegalArgumentException](
      PhashIndex.ingestBatch(fps, tmp, 2, bandBits = bits + 1))
    assert(e.getMessage.contains("bandBits"))
  }

  test("OPTIMIZE: compaction folds batches; probe results identical") {
    import graft.text.DedupIndex
    val all = corpus()
    val batch = (b: Int) => all.filter($"doc_id" % 3 === b)
    // control: never compacted
    val ctl = java.nio.file.Files.createTempDirectory("cmp_ctl_").toString
    DedupIndex.ingestBatch(batch(0), "doc_id", "text", ctl, 0)
    DedupIndex.ingestBatch(batch(1), "doc_id", "text", ctl, 1)
    val ctlPairs = pairKey(
      DedupIndex.ingestBatch(batch(2), "doc_id", "text", ctl, 2))
    // compacted between batch 1 and batch 2
    val tmp = java.nio.file.Files.createTempDirectory("cmp_idx_").toString
    DedupIndex.ingestBatch(batch(0), "doc_id", "text", tmp, 0)
    DedupIndex.ingestBatch(batch(1), "doc_id", "text", tmp, 1)
    assert(DedupIndex.compact(spark, tmp))
    assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/bands") == Set(-1))
    val gotPairs = pairKey(
      DedupIndex.ingestBatch(batch(2), "doc_id", "text", tmp, 2))
    assert(gotPairs == ctlPairs,
      "a probe against the compacted index must see identical pairs")
    // re-compaction folds the generation + the new batch into -2
    assert(DedupIndex.compact(spark, tmp))
    assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/bands") == Set(-2))
    assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/sets") == Set(-2))
    // nothing left to fold
    assert(!DedupIndex.compact(spark, tmp))
  }

  test("OPTIMIZE crash windows: staged rolls back, committed rolls forward") {
    import graft.text.DedupIndex
    val all = corpus()
    val batch = (b: Int) => all.filter($"doc_id" % 3 === b)
    val ctl = java.nio.file.Files.createTempDirectory("cw_ctl_").toString
    DedupIndex.ingestBatch(batch(0), "doc_id", "text", ctl, 0)
    DedupIndex.ingestBatch(batch(1), "doc_id", "text", ctl, 1)
    val ctlPairs = pairKey(
      DedupIndex.ingestBatch(batch(2), "doc_id", "text", ctl, 2))

    // STAGED crash: marker written, data table folded, probe table
    // NOT — the torn mid-rewrite state. Next ingest must roll BACK
    // (delete the generation, keep sources) and see identical pairs.
    val a = java.nio.file.Files.createTempDirectory("cw_staged_").toString
    DedupIndex.ingestBatch(batch(0), "doc_id", "text", a, 0)
    DedupIndex.ingestBatch(batch(1), "doc_id", "text", a, 1)
    val ixA = DedupIndex.tables(a)
    graft.util.AtomicText.writeAtomically(ixA.markerPath,
      "state\tstaged\ntarget\t-1\nsources\t0,1\n")
    ixA.stageAndWrite(spark, "sets", 4, -1, Set(0, 1))
    val rolledBack = pairKey(
      DedupIndex.ingestBatch(batch(2), "doc_id", "text", a, 2))
    assert(rolledBack == ctlPairs, "staged crash must roll back cleanly")
    assert(graft.util.IndexTables.fsBatches(spark, s"$a/sets") == Set(0, 1, 2),
      "rollback must remove the torn generation partition")

    // COMMITTED crash: both generation partitions complete, marker
    // flipped, ZERO source drops done — the duplicated-content state.
    // Next ingest must roll FORWARD (finish the drops) and see
    // identical pairs, never doubled lookups.
    val b = java.nio.file.Files.createTempDirectory("cw_comm_").toString
    DedupIndex.ingestBatch(batch(0), "doc_id", "text", b, 0)
    DedupIndex.ingestBatch(batch(1), "doc_id", "text", b, 1)
    val ixB = DedupIndex.tables(b)
    ixB.stageAndWrite(spark, "sets", 4, -1, Set(0, 1))
    ixB.stageAndWrite(spark, "bands", 4, -1, Set(0, 1))
    graft.util.AtomicText.writeAtomically(ixB.markerPath,
      "state\tcommitted\ntarget\t-1\nsources\t0,1\n")
    val rolledFwd = pairKey(
      DedupIndex.ingestBatch(batch(2), "doc_id", "text", b, 2))
    assert(rolledFwd == ctlPairs, "committed crash must roll forward cleanly")
    assert(graft.util.IndexTables.fsBatches(spark, s"$b/sets") == Set(-1, 2),
      "roll-forward must finish the source drops")
  }

  test("OPTIMIZE: phash index (hash + video grain) folds and probes identically") {
    import graft.multimodal.{MediaContent, PhashIndex}
    val fps = MediaContent.fingerprintAudio(
      MediaContent.audioFromDocuments(spark,
        spark.read.parquet(s"$sf/documents.parquet").select($"doc_id"))).toDF()
      .select($"doc_id".as("id"), $"fp_hi".as("hi"), $"fp_lo".as("lo"))
      .localCheckpoint()
    val bits = graft.sim.HammingBands.bits(fps.count(), occ = 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ctl = java.nio.file.Files.createTempDirectory("phc_ctl_").toString
    PhashIndex.ingestBatch(fps.filter($"id" % 3 === 0), ctl, 0, bits)
    PhashIndex.ingestBatch(fps.filter($"id" % 3 === 1), ctl, 1, bits)
    val ctlPairs = key(
      PhashIndex.ingestBatch(fps.filter($"id" % 3 === 2), ctl, 2, bits))
    val tmp = java.nio.file.Files.createTempDirectory("phc_idx_").toString
    PhashIndex.ingestBatch(fps.filter($"id" % 3 === 0), tmp, 0, bits)
    PhashIndex.ingestBatch(fps.filter($"id" % 3 === 1), tmp, 1, bits)
    assert(PhashIndex.compact(spark, tmp))
    assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/bands") == Set(-1))
    assert(graft.util.IndexTables.fsBatches(spark, s"$tmp/hashes") == Set(-1))
    val got = key(
      PhashIndex.ingestBatch(fps.filter($"id" % 3 === 2), tmp, 2, bits))
    assert(got == ctlPairs,
      "phash probe against the compacted index must see identical pairs")
  }

  test("color-JPEG hashes ingest through PhashIndex unchanged") {
    // the mm12 output shape (id, dh_hi, dh_lo) is the index's input
    // shape — the color corpus dedups batch-against-corpus with no
    // adapter, same as images/audio (the hash-generic contract)
    import graft.multimodal.{JpegCodec, PhashIndex}
    val hashes = JpegCodec.hashColorJpegs(
      JpegCodec.colorJpegsFromDocuments(spark,
        spark.read.parquet(s"$sf/documents.parquet").select($"doc_id"))).toDF()
      .select($"doc_id".as("id"), $"dh_hi".as("hi"), $"dh_lo".as("lo"))
      .localCheckpoint()
    val bits = graft.sim.HammingBands.bits(hashes.count(), occ = 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = java.nio.file.Files.createTempDirectory("phjc_one_").toString
    val oneShot = key(PhashIndex.ingestBatch(hashes, one, 0, bits))
    val tmp = java.nio.file.Files.createTempDirectory("phjc_idx_").toString
    val p0 = key(PhashIndex.ingestBatch(
      hashes.filter($"id" % 2 === 0), tmp, 0, bits))
    val p1 = key(PhashIndex.ingestBatch(
      hashes.filter($"id" % 2 === 1), tmp, 1, bits))
    assert((p0 ++ p1) == oneShot,
      "color-JPEG batch-wise ingest must equal the one-shot pass")
  }

  test("SpanIndex: cap accumulates across batches; monotone emission") {
    import graft.text.SpanIndex
    import org.apache.spark.sql.functions.{col, split}
    def toks(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
    val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
    def bdoc(i: Long, tag: String) =
      (i, boiler + " " + (0 until 20).map(j => s"u${tag}${i}_$j")
        .mkString(" "))
    val shared = (0 until 24).map(i => s"s$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("span_idx_").toString
    // batch 0: 10 boilerplate docs (df=10 ≤ 16) + one true-pair half
    val out0 = SpanIndex.ingestBatch(
      toks((1L to 10L).map(bdoc(_, "a")) :+
        (101L, shared + " " + (0 until 10).map(j => s"g1_$j").mkString(" "))),
      "doc_id", "w", dir, 0).collect()
    assert(out0.count(r => r.getLong(0) <= 10 && r.getLong(1) <= 10) ==
      10 * 9 / 2, "df=10 boilerplate pairs report while under the cap")
    // batch 1: 30 more boilerplate docs push df to 40 > 16 — NO new
    // boilerplate spans (monotone: batch-0 reports stand); the df=2
    // true pair crosses the batches and must come back exact
    val out1 = SpanIndex.ingestBatch(
      toks((11L to 40L).map(bdoc(_, "b")) :+
        (102L, (0 until 6).map(j => s"f2_$j").mkString(" ") + " " + shared)),
      "doc_id", "w", dir, 1).collect()
    val boilerPairs = out1.filter(r => r.getLong(0) <= 40 && r.getLong(1) <= 40)
    assert(boilerPairs.isEmpty,
      s"anchors past the accumulated cap must stop generating: " +
        s"${boilerPairs.length} pairs")
    val tp = out1.filter(r => r.getLong(0) == 101L && r.getLong(1) == 102L)
    assert(tp.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet ==
      Set((0L, 6L, 24L)), s"cross-batch span: ${tp.mkString(",")}")
    // idempotent retry: re-ingesting batch 1 returns the same spans
    val retry = SpanIndex.ingestBatch(
      toks((11L to 40L).map(bdoc(_, "b")) :+
        (102L, (0 until 6).map(j => s"f2_$j").mkString(" ") + " " + shared)),
      "doc_id", "w", dir, 1).collect()
    assert(retry.map(_.toSeq).toSet == out1.map(_.toSeq).toSet)
    // compaction: fold, then a fresh batch probes identically
    val probe = toks(Seq(
      (201L, shared + " " + (0 until 8).map(j => s"h_$j").mkString(" "))))
    val ctl = SpanIndex.ingestBatch(probe, "doc_id", "w", dir, 2)
      .collect().map(_.toSeq).toSet
    // rebuild the same pre-compaction state in a twin dir, compact,
    // probe — results must match the uncompacted control
    val dir2 = java.nio.file.Files.createTempDirectory("span_idx2_").toString
    SpanIndex.ingestBatch(
      toks((1L to 10L).map(bdoc(_, "a")) :+
        (101L, shared + " " + (0 until 10).map(j => s"g1_$j").mkString(" "))),
      "doc_id", "w", dir2, 0)
    SpanIndex.ingestBatch(
      toks((11L to 40L).map(bdoc(_, "b")) :+
        (102L, (0 until 6).map(j => s"f2_$j").mkString(" ") + " " + shared)),
      "doc_id", "w", dir2, 1)
    assert(SpanIndex.compact(spark, dir2))
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir2/anchors") ==
      Set(-1))
    val got = SpanIndex.ingestBatch(probe, "doc_id", "w", dir2, 2)
      .collect().map(_.toSeq).toSet
    assert(got == ctl, "compacted span-index probe must match uncompacted")
  }

  test("SpanIndex: torn adf orphan is inert; capCrossings gates equality") {
    import graft.text.{DedupIndex, SpanIndex}
    import org.apache.spark.sql.functions.{col, lit, split}
    def toks(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
    val shared = (0 until 24).map(i => s"s$i").mkString(" ")
    def filler(i: Long) =
      (0 until 10).map(j => s"u${i}_$j").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("span_orph_").toString
    // batch 0: docs 1 and 2 share the 24-token span (df = 2)
    SpanIndex.ingestBatch(
      toks(Seq((1L, shared + " " + filler(1)), (2L, filler(2) + " " + shared))),
      "doc_id", "w", dir, 0)
    // simulate a TORN batch 1: adf landed (df 20 on every shared
    // anchor — enough to blow the 16 cap), anchors write crashed
    val ix = SpanIndex.tables(dir)
    val orphanAdf = spark.table(ix.name("anchors")).select(col("h")).distinct()
      .select(col("h"), lit(20L).as("df"))
    ix.write(spark, "adf", orphanAdf, 4, 1)
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir/adf") == Set(0, 1))
    // batch 2 probes the span: with the orphan counted the
    // accumulated df would read 2+20+1 = 23 > 16 and every shared
    // anchor would silently drop; excluded, df = 3 and both
    // cross-batch pairs come back
    val out = SpanIndex.ingestBatch(
      toks(Seq((103L, shared + " " + filler(103)))), "doc_id", "w", dir, 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 103L), (2L, 103L)),
      s"adf orphan suppressed live anchors: ${out.mkString(",")}")
    // no crossing yet: live totals are 3 <= 16 (the orphan's 20 is
    // excluded from the crossing check too)
    assert(SpanIndex.capCrossings(spark, dir, 16).count() == 0)
    // a real later batch pushes the accumulated df over the cap: the
    // anchors probed under the cap in batches 0/2 now flag a crossing
    SpanIndex.ingestBatch(
      toks((11L to 30L).map(i => (i, shared + " " + filler(i)))),
      "doc_id", "w", dir, 3)
    assert(SpanIndex.capCrossings(spark, dir, 16).count() > 0,
      "mid-ingest cap crossing must be detectable")
  }

  test("ClusterIndex: cross-batch merges, stable keeper, retry, compact") {
    import graft.text.ClusterIndex
    import org.apache.spark.sql.functions.col
    def pairsDf(ps: (Long, Long)*) = ps.toDF("a", "b")
    def assignments(dir: String, upTo: Long): Map[Long, Long] =
      ClusterIndex.currentAssignments(spark, dir,
        spark.range(1, upTo + 1).select(col("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("clidx_").toString
    // batch 0: {1,2} and {5,6} — two components, min-id keepers
    val o0 = ClusterIndex.ingestBatch(pairsDf((2L, 1L), (5L, 6L)), dir, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o0 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L), s"$o0")
    // batch 1: 6–7 extends {5,6} (keeper 5 STABLE — no smaller id
    // arrived), 8–9 makes a new component
    val o1 = ClusterIndex.ingestBatch(pairsDf((6L, 7L), (8L, 9L)), dir, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1 == Map(6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 8L), s"$o1")
    // batch 2: 2–9 BRIDGES {1,2} and {8,9} (keeper = global min 1,
    // relabeling only the losing component's members); 3–5 pulls the
    // {5,6,7} component under keeper 3... no — 3 < 5, the STORED
    // component loses and every member relabels
    val o2 = ClusterIndex.ingestBatch(pairsDf((2L, 9L), (3L, 5L)), dir, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o2 == Map(2L -> 1L, 9L -> 1L, 3L -> 3L, 5L -> 3L), s"$o2")
    val want = Map(1L -> 1L, 2L -> 1L, 8L -> 1L, 9L -> 1L,
      3L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 3L, 4L -> 4L, 10L -> 10L)
    assert(assignments(dir, 10L) == want)
    // batch-wise == one-shot over the concatenated feed
    val oneShot = graft.text.DedupClusters.connectedComponents(
        spark.range(1, 11).select(col("id")),
        pairsDf((2L, 1L), (5L, 6L), (6L, 7L), (8L, 9L), (2L, 9L), (3L, 5L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assignments(dir, 10L) == oneShot)
    // idempotent retry: re-ingesting batch 2 changes nothing
    val retry = ClusterIndex.ingestBatch(pairsDf((2L, 9L), (3L, 5L)), dir, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(retry == o2, s"$retry")
    assert(assignments(dir, 10L) == want)
    // compact folds to one generation, prunes superseded rows, and
    // reads back identically
    assert(ClusterIndex.compact(spark, dir))
    assert(graft.util.IndexTables.fsBatches(spark, s"$dir/assign") == Set(-1))
    assert(assignments(dir, 10L) == want)
    val perId = spark.table(ClusterIndex.tables(dir).name("assign")).groupBy("id").count()
      .filter(col("count") > 1).count()
    assert(perId == 0, "compaction must prune superseded assignment rows")
    // a batch after compaction still merges against the generation
    val o3 = ClusterIndex.ingestBatch(pairsDf((4L, 7L)), dir, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o3 == Map(4L -> 3L, 7L -> 3L), s"$o3")
    // torn batch: members landed, assign crashed — invisible to reads
    // and to the next ingest until the retry lands both
    val dir2 = java.nio.file.Files.createTempDirectory("clidx2_").toString
    ClusterIndex.ingestBatch(pairsDf((1L, 2L)), dir2, 0)
    ClusterIndex.tables(dir2).write(spark, "members",
      Seq((7L, 3L)).toDF("id", "cid"), 4, 1)
    assert(assignments(dir2, 7L) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L,
        7L -> 7L), "torn members orphan must be invisible")
    val o2b = ClusterIndex.ingestBatch(pairsDf((3L, 7L)), dir2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o2b == Map(3L -> 3L, 7L -> 3L),
      s"orphan members row polluted a later merge: $o2b")
    ClusterIndex.dropIndex(spark, dir)
    ClusterIndex.dropIndex(spark, dir2)
  }

  test("EmbedIndex: geometry pin, idempotent retry, compaction probe-identity") {
    import graft.sim.EmbedIndex
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    // copies of every 20th vector under shifted ids: guaranteed pairs
    val corpus = emb.unionAll(emb.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"), $"e"))
    val dir = java.nio.file.Files.createTempDirectory("emb_idx_").toString
    def ingest(i: Int) = EmbedIndex.ingestBatch(
      corpus.filter(pmod(col("vec_id"), lit(2)) === i), "vec_id", "e",
      dir, i, threshold = 0.9, bits = 6, tables = 4)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = key(ingest(0))
    val p1 = key(ingest(1))
    // one-shot over the same corpus under the same geometry
    val oneShot = key(graft.sim.Embeddings.nearDupPairs(corpus,
      "vec_id", "e", threshold = 0.9, bits = 6, tables = 4))
    assert((p0 ++ p1) == oneShot && oneShot.nonEmpty,
      "batch-wise ingest must equal the one-shot pass")
    // a mismatched geometry refuses before touching the store
    val e = intercept[IllegalArgumentException](EmbedIndex.ingestBatch(
      corpus.limit(1), "vec_id", "e", dir, 2, 0.9, bits = 8, tables = 4))
    assert(e.getMessage.contains("unreachable"), e.getMessage)
    // idempotent retry of batch 1
    assert(key(ingest(1)) == p1)
    // compaction: fold, then a fresh batch probes identically
    val probe = corpus.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 200000L).as("vec_id"), $"e")
    val dir2 = java.nio.file.Files.createTempDirectory("emb_idx2_").toString
    def ingest2(i: Int) = EmbedIndex.ingestBatch(
      corpus.filter(pmod(col("vec_id"), lit(2)) === i), "vec_id", "e",
      dir2, i, threshold = 0.9, bits = 6, tables = 4)
    ingest2(0); ingest2(1)
    val ctl = key(EmbedIndex.ingestBatch(probe, "vec_id", "e", dir, 3,
      0.9, bits = 6, tables = 4))
    assert(EmbedIndex.compact(spark, dir2))
    val got = key(EmbedIndex.ingestBatch(probe, "vec_id", "e", dir2, 3,
      0.9, bits = 6, tables = 4))
    assert(got == ctl && ctl.nonEmpty,
      "compacted embed-index probe must match uncompacted")
    EmbedIndex.dropIndex(spark, dir)
    EmbedIndex.dropIndex(spark, dir2)
  }

  test("ingest verify joins: shuffle-join regime == broadcast regime") {
    // round 14 removed the forced broadcast() hints on the batch side
    // of the verify lookups (a production batch is a day of crawl —
    // the hint overrode AQE's size check). Small batches still
    // auto-broadcast; this pins that the DEGRADED regime (broadcast
    // disabled entirely, as AQE does above the threshold) returns
    // bit-identical pairs through the shuffle-join path.
    import graft.multimodal.{MediaContent, PhashIndex}
    val fps = MediaContent.fingerprintAudio(
      MediaContent.audioFromDocuments(spark,
        spark.read.parquet(s"$sf/documents.parquet").select($"doc_id"))).toDF()
      .select($"doc_id".as("id"), $"fp_hi".as("hi"), $"fp_lo".as("lo"))
      .localCheckpoint()
    val bits = graft.sim.HammingBands.bits(fps.count(), occ = 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def runPh(dir: String) =
      (key(PhashIndex.ingestBatch(fps.filter($"id" % 2 === 0), dir, 0, bits)),
        key(PhashIndex.ingestBatch(fps.filter($"id" % 2 === 1), dir, 1, bits)))
    def runMh(dir: String) = {
      val all = corpus()
      (pairKey(DedupIndex.ingestBatch(
          all.filter($"doc_id" % 2 === 0), "doc_id", "text", dir, 0)),
        pairKey(DedupIndex.ingestBatch(
          all.filter($"doc_id" % 2 === 1), "doc_id", "text", dir, 1)))
    }
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (bPh, bMh) = (runPh(tmp("regime_b_ph_")), runMh(tmp("regime_b_mh_")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val (sPh, sMh) =
        (runPh(tmp("regime_s_ph_")), runMh(tmp("regime_s_mh_")))
      assert(sPh == bPh, "PhashIndex pairs must not depend on join strategy")
      assert(sMh == bMh, "DedupIndex pairs must not depend on join strategy")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("LineIndex: batch == one-shot, retry idempotent, compaction invariant") {
    import graft.text.LineIndex
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nshared one\nbeta"),
      (2L, "shared one\ngamma\nshared two"),      // dup within batch 0
      (10L, "shared two\ndelta"),                 // cross-batch dup
      (11L, "epsilon\nshared one\nepsilon"))     // dup of b0 + self-dup
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("line_idx_").toString
    def keptOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k0 = keptOf(LineIndex.ingestBatch(
      docs.filter($"doc_id" < 10), "doc_id", "text", dir, 0))
    val k1 = keptOf(LineIndex.ingestBatch(
      docs.filter($"doc_id" >= 10), "doc_id", "text", dir, 1))
    // one-shot truth: global first occurrence by (doc_id, ix)
    val lines = docs.select($"doc_id",
        posexplode(split($"text", "\n"))).toDF("doc_id", "ix", "line")
    val w = Window.partitionBy(md5($"line")).orderBy($"doc_id", $"ix")
    val truth = lines.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select($"doc_id", $"ix".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((k0 ++ k1) == truth, s"batch ${k0 ++ k1} vs one-shot $truth")
    assert(k1 == Set((10L, 1L), (11L, 0L)),
      "cross-batch dups must drop against the stored side")
    // retry of batch 1 overwrites its own partition, same verdicts
    val k1b = keptOf(LineIndex.ingestBatch(
      docs.filter($"doc_id" >= 10), "doc_id", "text", dir, 1))
    assert(k1b == k1)
    // compaction folds generations; a later batch still probes right
    assert(LineIndex.compact(spark, dir))
    val k2 = keptOf(LineIndex.ingestBatch(
      Seq((20L, "shared one\nzeta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 2))
    assert(k2 == Set((20L, 1L)), s"post-compaction probe: $k2")
    LineIndex.dropIndex(spark, dir)
  }

  test("torn batch of every paired index, each table orphaned in turn: invisible, retry restores") {
    // the writes of every pair overlap, so a crash can leave EITHER
    // table's batch partition as the orphan. For each family and each
    // of its tables: tear batch 0 by deleting that table's partition
    // (data and catalog entry), the stored view must hide the batch,
    // and a retry of batch 0 must bring back exactly the rows it had.
    import graft.multimodal.PhashIndex
    import graft.sim.EmbedIndex
    import graft.text.{ClusterIndex, SpanIndex}
    import org.apache.spark.sql.DataFrame
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 40).select($"doc_id", $"text")
    val hashes = docs.select($"doc_id".as("id"),
      ($"doc_id" * 2654435761L % 4294967296L).as("hi"),
      ($"doc_id" * 97561L % 4294967296L).as("lo"))
    val frames = hashes.select($"id", ($"id" % 4).cast("int").as("frame_idx"),
      $"hi", $"lo")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 40)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val pairs = spark.range(0, 20).select($"id".as("a"), ($"id" + 100L).as("b"))
    final case class Family(name: String, prefix: String, tables: Seq[String],
                            ingest: String => Unit,
                            view: String => Option[Map[String, DataFrame]])
    val families = Seq(
      Family("dedup", "idx", Seq("sets", "bands"),
        d => DedupIndex.ingestBatch(docs, "doc_id", "text", d, 0),
        d => DedupIndex.tables(d).stored(spark, excludeBatch = 99)),
      Family("span", "spidx", Seq("adf", "anchors"),
        d => SpanIndex.ingestBatch(docs.select($"doc_id", split($"text", " ")
          .as("w")), "doc_id", "w", d, 0),
        d => SpanIndex.tables(d).stored(spark, excludeBatch = 99)),
      Family("embed", "embidx", Seq("vecs", "bands"),
        d => EmbedIndex.ingestBatch(vecs, "vec_id", "e", d, 0, threshold = 0.9),
        d => EmbedIndex.tables(d).stored(spark, excludeBatch = 99)),
      Family("cluster", "clidx", Seq("members", "assign"),
        d => ClusterIndex.ingestBatch(pairs, d, 0),
        d => ClusterIndex.tables(d).stored(spark, excludeBatch = 99)),
      Family("phash", "phidx", Seq("hashes", "bands"),
        d => PhashIndex.ingestBatch(hashes, d, 0, bandBits = 8),
        d => PhashIndex.tables(d).stored(spark, excludeBatch = 99)),
      Family("phash-video", "phidx", Seq("vframes", "vbands"),
        d => PhashIndex.ingestVideoBatch(frames, d, 0, bandBits = 8),
        d => PhashIndex.videoTables(d).stored(spark, excludeBatch = 99)))
    for (f <- families; torn <- f.tables) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"torn_${f.name}_$torn").toString
      f.ingest(dir)
      def rows = f.view(dir).map(_.map { case (t, df) => t -> df.count() })
      val before = rows
      assert(before.exists(_.values.forall(_ > 0)), s"${f.name}: empty index $before")
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(12)
      spark.sql(s"ALTER TABLE graft_${f.prefix}_${torn}_$tag " +
        "DROP IF EXISTS PARTITION (batch='0')")
      val part = new java.io.File(s"$dir/$torn/batch=0")
      assert(part.isDirectory && org.apache.hadoop.fs.FileUtil.fullyDelete(part))
      assert(f.view(dir).isEmpty,
        s"${f.name}: batch 0 with its $torn partition torn leaked into the view")
      f.ingest(dir)
      assert(rows == before,
        s"${f.name}: retry after a torn $torn partition must restore batch 0")
    }
  }
}
