package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental perceptual-hash near-dup detection against a PERSISTED
  * band index — [[graft.text.DedupIndex]]'s operational shape
  * (bucketed band tables, exchange-free stored-side probes,
  * dynamic-partition-overwrite idempotency) applied to the 64-bit
  * Hamming hashes of the multimodal family: image dHash (mm6/dd15),
  * audio energy fingerprints (mm7/dd16), sampled video frames
  * (mm8/dd17). Round 12's dd15–dd17 are one-shot whole-corpus passes;
  * a 100 TB ingest dedups each arriving batch against the accumulated
  * corpus or it re-pays the whole corpus every day — this is that
  * batch-against-corpus form.
  *
  * Index layout — BUCKETED catalog tables (external, rooted at
  * `<dir>/bands` and `<dir>/hashes`), partitioned by `batch`:
  *   - bands  `(id, bi, bv) PARTITIONED BY (batch) CLUSTERED BY
  *     (bi, bv)` — the Hamming-LSH probe table;
  *   - hashes `(id, hi, lo) PARTITIONED BY (batch) CLUSTERED BY (id)`
  *     — full 64-bit hashes for the exact bit_count(xor) verify.
  *
  * Band geometry is an INDEX-CREATION parameter, pinned in
  * `<dir>/_geometry.tsv` ([[graft.util.IndexTables.pinGeometry]]) and
  * enforced on every ingest: stored bands are only probe-able by
  * identically-banded keys, so a corpus-derived width (the
  * [[graft.sim.HammingBands]] occupancy rule over the EXPECTED corpus
  * size) must be chosen when the index is created, not re-derived per
  * batch — re-deriving would silently partition history into
  * incompatible band spaces.
  *
  * The hashes and bands writes OVERLAP; [[graft.util.IndexTables]]
  * reads only batches present in BOTH tables, so a torn batch is
  * invisible until its retry. The video grain ([[ingestVideoBatch]],
  * tables vframes/vbands) follows the same discipline.
  */
object PhashIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "phidx",
    Seq("hashes" -> Seq("id"), "bands" -> Seq("bi", "bv")))

  private[graft] def videoTables(indexDir: String) = new IndexTables(indexDir, "phidx",
    Seq("vframes" -> Seq("id"), "vbands" -> Seq("bi", "bv")))

  /** Ingest one batch of 64-bit hashes (`id`, `hi`, `lo` — the hash's
    * 32-bit halves as longs, the mm6/mm7/mm8 output shape): returns
    * the VERIFIED near-dup pairs involving this batch (new-new and
    * new-stored; `id1 < id2`, `hamming <= hammingMax`), and appends
    * the batch's bands + hashes to the index. A crashed run
    * re-ingests the same `batchId` and overwrites only its own
    * partitions. */
  def ingestBatch(hashes: DataFrame, indexDir: String, batchId: Int,
                  bandBits: Int, hammingMax: Int = 8,
                  buckets: Int = 4): DataFrame = {
    val spark = hashes.sparkSession
    val ix = tables(indexDir)
    ix.pinGeometry("phash", "bandBits" -> bandBits)
    val bspec = graft.sim.HammingBands.spec(bandBits)
    val newHashes = graft.util.CacheScope.track(
      hashes.select(col("id"), col("hi").cast("long").as("hi"),
        col("lo").cast("long").as("lo")))
    val ufp = shiftleft(col("hi"), 32).bitwiseOR(col("lo"))
    val newBands = graft.util.CacheScope.track(
      newHashes.select(col("id"),
        explode(array(bspec.zipWithIndex.map { case ((shf, wd), i) =>
          struct(lit(i).as("bi"),
            shiftrightunsigned(ufp, shf).bitwiseAND(lit((1L << wd) - 1))
              .as("bv"))
        }: _*)).as("b"))
        .select(col("id"), col("b.bi").as("bi"), col("b.bv").as("bv")))

    val stored = ix.open(spark, buckets, batchId,
      "hashes" -> newHashes, "bands" -> newBands)

    // candidates = (new ⋈ new) ∪ (new ⋈ stored) band collisions — two
    // joins, never one join against a union (a union would discard
    // the stored table's bucketing and re-shuffle the whole index)
    val newProbe = newBands.select(col("bi"), col("bv"), col("id").as("x"))
    def collisions(other: DataFrame) =
      newProbe
        .join(other.select(col("bi"), col("bv"), col("id").as("y")),
          Seq("bi", "bv"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("id1"),
          greatest(col("x"), col("y")).as("id2"))
    val cand = stored
      .map(s => collisions(newBands).unionAll(collisions(s("bands"))))
      .getOrElse(collisions(newBands))
      .distinct()

    // exact-Hamming verify: each side's full hash from the stored
    // index (bucketed by id — exchange-free) or the new batch. NO
    // forced broadcast on the batch side: a production batch is a
    // day of crawl (10M+ rows), and a hint would strip AQE's safety
    // valve — under the threshold AQE still broadcasts, above it the
    // join degrades gracefully to a shuffle join (the
    // Sinks.statsCandidateDirs precedent; ScaleSpec pins both
    // regimes keep the stored side exchange-free). The NEW batch's
    // hash wins the coalesce: an id re-ingested with changed content
    // must verify against what this batch carries, not a stale
    // stored row.
    def lookupHash(p: DataFrame, side: String, tag: String): DataFrame = {
      val fresh = newHashes.select(col("id").as(side),
        col("hi").as(s"__nh_$tag"), col("lo").as(s"__nl_$tag"))
      val withNew = p.join(fresh, Seq(side), "left")
      stored match {
        case Some(st) =>
          withNew
            .join(st("hashes").select(col("id").as(side), col("hi").as(s"__sh_$tag"),
              col("lo").as(s"__sl_$tag")), Seq(side), "left")
            .withColumn(s"hi$tag",
              coalesce(col(s"__nh_$tag"), col(s"__sh_$tag")))
            .withColumn(s"lo$tag",
              coalesce(col(s"__nl_$tag"), col(s"__sl_$tag")))
            .drop(s"__nh_$tag", s"__nl_$tag", s"__sh_$tag", s"__sl_$tag")
        case None =>
          withNew.withColumnRenamed(s"__nh_$tag", s"hi$tag")
            .withColumnRenamed(s"__nl_$tag", s"lo$tag")
      }
    }
    val withHashes = lookupHash(lookupHash(cand, "id1", "1"), "id2", "2")
    val verified = withHashes
      .withColumn("hamming",
        (expr("bit_count(lo1 ^ lo2)") + expr("bit_count(hi1 ^ hi2)"))
          .cast("long"))
      .filter(col("hamming") <= hammingMax)
      .select(col("id1"), col("id2"), col("hamming"))

    // append AFTER the probe plans are built; overlapped writes
    // (guide §2.6): a torn pair is inert whichever side lands first
    // (class doc); both inputs are CacheScope-pinned
    val out = verified.localCheckpoint()
    graft.util.Par.both(
      ix.write(spark, "hashes", newHashes, buckets, batchId),
      ix.write(spark, "bands", newBands, buckets, batchId))
    out
  }

  /** Ingest one batch of VIDEOS as per-frame hashes (`id`,
    * `frame_idx`, `hi`, `lo` — the mm8 output shape): returns the
    * SEQUENCE-level near-dup pairs involving this batch under the
    * dd17 offset-alignment verdict (`id1 < id2`, best `off`,
    * `n_aligned ≥ max(nf1, nf2) − tol`, every co-sampled frame within
    * `hammingMax`), and appends the batch's frame bands + hashes to
    * the index. Completes the incremental story across all three
    * perceptual modalities: images and audio ingest 64-bit hashes
    * through [[ingestBatch]]; videos ingest frame SETS here, and the
    * offset verdict runs per batch against the stored corpus. The
    * verify reads stored frames ONLY for candidate ids (a left-semi
    * probe into the id-bucketed frame table — exchange-free on the
    * stored side), so per-batch cost stays O(batch + matches), never
    * O(corpus history). */
  def ingestVideoBatch(frames: DataFrame, indexDir: String, batchId: Int,
                       bandBits: Int, hammingMax: Int = 8, tol: Int = 1,
                       buckets: Int = 4): DataFrame = {
    val spark = frames.sparkSession
    val ix = videoTables(indexDir)
    ix.pinGeometry("phash", "bandBits" -> bandBits)
    val bspec = graft.sim.HammingBands.spec(bandBits)
    val newH = graft.util.CacheScope.track(
      frames.select(col("id"), col("frame_idx").cast("int").as("fi"),
        col("hi").cast("long").as("hi"), col("lo").cast("long").as("lo")))
    val ufp = shiftleft(col("hi"), 32).bitwiseOR(col("lo"))
    val newB = graft.util.CacheScope.track(
      newH.select(col("id"), col("fi"),
        explode(array(bspec.zipWithIndex.map { case ((shf, wd), i) =>
          struct(lit(i).as("bi"),
            shiftrightunsigned(ufp, shf).bitwiseAND(lit((1L << wd) - 1))
              .as("bv"))
        }: _*)).as("b"))
        .select(col("id"), col("fi"), col("b.bi").as("bi"),
          col("b.bv").as("bv")))
    val stored = ix.open(spark, buckets, batchId,
      "vframes" -> newH, "vbands" -> newB)

    // a band collision at (fa, fb) PROPOSES off = f(id1) − f(id2)
    val newProbe = newB.select(col("bi"), col("bv"),
      col("id").as("xa"), col("fi").as("fa"))
    def collisions(other: DataFrame) =
      newProbe
        .join(other.select(col("bi"), col("bv"), col("id").as("yb"),
          col("fi").as("fb")), Seq("bi", "bv"))
        .filter(col("xa") =!= col("yb"))
        .select(least(col("xa"), col("yb")).as("id1"),
          greatest(col("xa"), col("yb")).as("id2"),
          when(col("xa") < col("yb"), col("fa") - col("fb"))
            .otherwise(col("fb") - col("fa")).cast("long").as("off"))
    val cand = stored
      .map(s => collisions(newB).unionAll(collisions(s("vbands"))))
      .getOrElse(collisions(newB))
      .distinct()
      .localCheckpoint() // candidate ids below + the verify read it
    // full frame sets for CANDIDATE videos only: new side in-batch,
    // stored side via an id-bucketed left-semi probe
    val candIds = cand.select(col("id1").as("id"))
      .unionAll(cand.select(col("id2").as("id"))).distinct()
    // candidate-id set un-hinted: AQE broadcasts it while it is
    // small and falls back to a shuffled semi-join when a huge batch
    // makes it large — the stored frame table stays bucket-local on
    // `id` either way (ScaleSpec pin)
    val lookup = stored match {
      case Some(st) => newH.unionAll(st("vframes").drop("batch")
        .join(candIds, Seq("id"), "left_semi"))
      case None => newH
    }
    // overlapped writes (guide §2.6): a torn pair is inert whichever
    // side lands first (class doc); both inputs are CacheScope-pinned
    val out = offsetVerdict(cand, lookup, hammingMax, tol).localCheckpoint()
    graft.util.Par.both(
      ix.write(spark, "vframes", newH, buckets, batchId),
      ix.write(spark, "vbands", newB, buckets, batchId))
    out
  }

  /** The dd17 OFFSET-ALIGNMENT verdict, factored so the batch index
    * ([[ingestVideoBatch]]) and the streaming proposer twin share one
    * implementation: `cand(id1, id2, off)` proposals verify against
    * `frames(id, fi, hi, lo)` — a pair stands when, at its best
    * offset, every co-sampled frame sits within `hammingMax` and the
    * aligned count reaches `max(nf1, nf2) − tol` (one missing sampled
    * frame tolerated). `frames` need only cover candidate ids — the
    * batch path feeds the new batch ∪ a left-semi slice of the
    * id-bucketed store, so the verdict stays O(batch + matches). */
  def offsetVerdict(cand: DataFrame, frames: DataFrame,
                    hammingMax: Int = 8, tol: Int = 1): DataFrame = {
    val f1 = frames.select(col("id").as("id1"), col("fi").as("fi1"),
      col("hi").as("hi1"), col("lo").as("lo1"))
    val f2 = frames.select(col("id").as("id2"), col("fi").as("fi2"),
      col("hi").as("hi2"), col("lo").as("lo2"))
    val perOff = cand.join(f1, Seq("id1")).as("l")
      .join(f2.as("r"), col("l.id2") === col("r.id2") &&
        col("r.fi2") === col("l.fi1") - col("l.off"))
      .select(col("l.id1").as("id1"), col("l.id2").as("id2"),
        col("l.off").as("off"), col("l.hi1").as("hi1"),
        col("l.lo1").as("lo1"), col("r.hi2").as("hi2"),
        col("r.lo2").as("lo2"))
      .withColumn("ham",
        (expr("bit_count(lo1 ^ lo2)") + expr("bit_count(hi1 ^ hi2)"))
          .cast("long"))
      .groupBy(col("id1"), col("id2"), col("off"))
      .agg(count(lit(1)).as("n_aligned"), max(col("ham")).as("max_ham"))
    val nf = frames.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"))
      .orderBy(col("n_aligned").desc, col("off").asc)
    perOff
      .join(nf.select(col("id").as("id1"), col("nf").as("nf1")), Seq("id1"))
      .join(nf.select(col("id").as("id2"), col("nf").as("nf2")), Seq("id2"))
      .filter(col("max_ham") <= hammingMax &&
        col("n_aligned") >= greatest(col("nf1"), col("nf2")) - tol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id1"), col("id2"), col("n_aligned"), col("off"),
        col("max_ham"))
  }

  /** OPTIMIZE: fold every complete batch of the hash grain AND, if
    * present, the video grain into one generation partition each
    * ([[graft.util.IndexTables]] OPTIMIZE). Probe results are
    * invariant (IndexSpec pins it) and the stored-side no-shuffle
    * property survives: the generation partition is written through
    * the same bucketed tables. Returns true when anything folded. */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean = {
    val a = tables(indexDir).compact(spark, buckets)
    val b = videoTables(indexDir).compact(spark, buckets)
    a || b
  }

  /** Drop this index's tables (both grains) and data — for SCRATCH
    * indexes whose lifetime is one query (dd18/dd21 register this as a
    * [[graft.util.CacheScope]] release hook so repeated bench passes
    * don't accumulate dead band tables in /tmp + the catalog). A
    * persistent production index never calls this. */
  def dropIndex(spark: SparkSession, indexDir: String): Unit = {
    tables(indexDir).dropIndex(spark)
    videoTables(indexDir).dropIndex(spark)
  }
}
