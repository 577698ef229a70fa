package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental near-duplicate detection against a PERSISTED MinHash
  * index — the operational shape of dedup at 100 TB: the corpus grows
  * batch by batch, and each batch must find its duplicates against
  * everything ingested so far WITHOUT recomputing the existing
  * corpus's signatures or pair graph
  * (cf. [[MinHash.nearDupPairs]], the one-shot form).
  *
  * Index layout — two [[graft.util.IndexTables]] (which owns naming,
  * bucketing, torn-batch gating, restart recovery and OPTIMIZE):
  *   - sets  `(id, s) CLUSTERED BY (id)` — shingle sets for exact
  *     verification (written first);
  *   - bands `(id, band, key) CLUSTERED BY (band, key)` — the LSH
  *     probe table.
  * The two writes overlap; a torn batch is invisible until its retry
  * lands both partitions.
  */
object DedupIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "idx",
    Seq("sets" -> Seq("id"), "bands" -> Seq("band", "key")))

  /** Ingest one batch: returns the VERIFIED near-dup pairs involving
    * this batch (new-new and new-stored), and appends the batch's
    * bands + shingle sets to the index. `batchId` keys the index
    * partitions: a crashed run re-ingests the same batch id and
    * overwrites its own partitions idempotently. */
  def ingestBatch(docs: DataFrame, idCol: String, textCol: String,
                  indexDir: String, batchId: Int,
                  k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                  threshold: Double = 0.5, buckets: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    // spread the batch across the cluster BEFORE the per-doc hashing:
    // a batch often arrives as few (or one) input files, and the
    // shingle+md5 pipeline is the CPU-heavy stage — one shuffle of the
    // raw batch (O(batch)) buys full-width parallelism for it.
    // Conditional (Spread.wide): a batch that already lands wide
    // (many files at cluster scale) moves nothing.
    val spread = graft.util.Spread.wide(docs, col(idCol))
    val sh = graft.util.CacheScope.track(
      MinHash.shingles(spread, idCol, textCol, k))
    val sig = MinHash.signatures(sh, idCol, numHashes)
    val newBands = graft.util.CacheScope.track(
      bandsOf(sig, idCol, numHashes, rowsPerBand))
    val newSets = graft.util.CacheScope.track(
      sh.groupBy(idCol).agg(collect_set(col("shingle")).as("s"))
        .select(col(idCol).as("id"), col("s")))

    // restart recovery runs before the PROBE, not just before the
    // write (IndexTables, catalog loss); THIS batch id is excluded
    // from the stored view, or a crash-retry of a batch whose write
    // already ran would emit each pair 2-4 times through the joins
    val ix = tables(indexDir)
    val stored = ix.open(spark, buckets, batchId,
      "sets" -> newSets, "bands" -> newBands)

    // candidates = (new ⋈ new) ∪ (new ⋈ stored) band collisions — two
    // joins, NOT one join against a union: a union would discard the
    // stored table's bucketing and re-shuffle the whole index. The
    // stored side of the second join is bucketed on exactly the join
    // key, so only the (batch-sized) probe side moves.
    val newProbe = newBands.select(col("band"), col("key"), col("id").as("x"))
    def collisions(other: DataFrame) =
      newProbe
        .join(other.select(col("band"), col("key"), col("id").as("y")),
          Seq("band", "key"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
    val cand = stored.map(s => collisions(newBands).unionAll(collisions(s("bands"))))
      .getOrElse(collisions(newBands))
      .distinct()

    // exact-Jaccard verify: resolve each pair side's shingle set from
    // the stored index (bucketed by id — exchange-free) or, for ids
    // born this batch, from the new sets. Never a union of stored ∪
    // new (same bucketing-destruction argument as above), and no
    // FORCED broadcast of the batch side: a production batch can be
    // a day of crawl, so the hint would override AQE's size check —
    // small batches still auto-broadcast, large ones degrade to a
    // shuffle join while the stored side stays exchange-free.
    def lookupSet(p: DataFrame, side: String, out: String): DataFrame = {
      val fresh = newSets
        .select(col("id").as(side), col("s").as(s"__new_$out"))
      val withNew = p.join(fresh, Seq(side), "left")
      stored match {
        case Some(st) =>
          withNew
            .join(st("sets").select(col("id").as(side), col("s").as(s"__st_$out")),
              Seq(side), "left")
            .withColumn(out, coalesce(col(s"__st_$out"), col(s"__new_$out")))
            .drop(s"__new_$out", s"__st_$out")
        case None => withNew.withColumnRenamed(s"__new_$out", out)
      }
    }
    val withSets = lookupSet(lookupSet(cand, "a", "sa"), "b", "sb")
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val verified = withSets
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("sa")).cast("long") + size(col("sb")).cast("long") - inter)
            .cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

    // append AFTER the probe plans are built against the old index
    // state; localCheckpoint pins the result so callers can read it
    // after the index advances. Overlapped writes (guide §2.6): a torn
    // pair is inert whichever side lands first, and both inputs are
    // CacheScope-pinned — neither side recomputes the batch.
    val out = verified.localCheckpoint()
    graft.util.Par.both(
      ix.write(spark, "sets", newSets, buckets, batchId),
      ix.write(spark, "bands", newBands, buckets, batchId))
    out
  }

  private def bandsOf(sig: DataFrame, idCol: String, numHashes: Int,
                      rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    sig.select(col(idCol).as("id"),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("|", (0 until rowsPerBand)
            .map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Drop this index's tables and data (scratch-index lifecycle; cur5
    * registers it as a CacheScope release hook). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)

  /** OPTIMIZE: fold every complete batch into one generation partition
    * ([[graft.util.IndexTables]] has the marker protocol). Daily-batch
    * ingestion otherwise leaves one partition per batch forever —
    * hundreds of small partitions scanned by every probe. */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean =
    tables(indexDir).compact(spark, buckets)
}
