package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental EMBEDDING near-dup detection against a persisted
  * sign-LSH band index — the vector-space member of the incremental
  * family (dd9 MinHash shingles, dd18 perceptual hashes, dd22 token
  * spans, dd24 clusters), closing the one modality whose near-dup
  * pass ([[Embeddings.nearDupPairs]], dd7/dd14) was still one-shot: a
  * 100 TB embedding corpus ingests batch by batch, and each batch
  * must find its semantic duplicates against everything so far
  * WITHOUT re-bucketing the accumulated corpus.
  *
  * Index layout — bucketed catalog tables, partitioned by `batch`:
  *   - bands `(id, t, b) CLUSTERED BY (t, b)` — the hyperplane-sign
  *     LSH probe table (the dd7 keys: exact integer dot products
  *     against md5-derived planes);
  *   - vecs  `(id, v, n2) CLUSTERED BY (id)` — quantized vectors +
  *     norms for the exact integer-cosine verify.
  *
  * LSH geometry `(bits, tables)` is pinned at creation
  * ([[graft.util.IndexTables.pinGeometry]], the PhashIndex
  * precedent): the planes themselves are deterministic functions of
  * (table, bit, dim), so pinning the two counts pins the whole key
  * space.
  *
  * The vecs and bands writes OVERLAP; [[graft.util.IndexTables]]
  * reads only batches present in BOTH tables (a bands-orphan's
  * candidates would silently drop in the verify join, a vecs-orphan
  * is unreachable), so a torn batch is invisible until its retry.
  * Batch-wise output equals the one-shot
  * [[Embeddings.nearDupPairs]] pass exactly (deterministic keys +
  * exact integer cosine — no randomness to tolerate): dd25 gates on
  * dd7's oracle.
  */
object EmbedIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "embidx",
    Seq("vecs" -> Seq("id"), "bands" -> Seq("t", "b")))

  /** Fold the batch partitions into one generation
    * ([[graft.util.IndexTables]] OPTIMIZE). */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean =
    tables(indexDir).compact(spark, buckets)

  /** Ingest one batch of embeddings `(idCol, embCol)`: returns the
    * VERIFIED near-dup pairs involving this batch (`a_id < b_id`,
    * exact integer `cos_sim >= threshold`, new-new and new-stored)
    * and appends the batch's bands + quantized vectors. A crashed run
    * re-ingests the same `batchId` idempotently. */
  def ingestBatch(vectors: DataFrame, idCol: String, embCol: String,
                  indexDir: String, batchId: Int, threshold: Double,
                  bits: Int = 8, tables: Int = 2, dim: Int = 64,
                  buckets: Int = 4): DataFrame = {
    val spark = vectors.sparkSession
    val ix = EmbedIndex.tables(indexDir)
    ix.pinGeometry("embed", "bits" -> bits, "tables" -> tables)
    val newVecs = graft.util.CacheScope.track(vectors
      .select(col(idCol).as("id"),
        Embeddings.quantizeChecked(col(embCol), dim).as("v"))
      .withColumn("n2", Embeddings.qnorm2(col("v"))))
    val newBands = graft.util.CacheScope.track(
      newVecs.select(col("id"), explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            Embeddings.signBucket(col("v"), t, bits, dim).as("b"))): _*))
          .as("tb"))
        .select(col("id"), col("tb.t").as("t"), col("tb.b").as("b")))

    val stored = ix.open(spark, buckets, batchId,
      "vecs" -> newVecs, "bands" -> newBands)

    // candidates = (new ⋈ new) ∪ (new ⋈ stored) bucket collisions —
    // two joins, never one join against a union (the family's
    // bucketing-preservation argument)
    val newProbe = newBands.select(col("t"), col("b"), col("id").as("x"))
    def collisions(other: DataFrame) =
      newProbe
        .join(other.select(col("t"), col("b"), col("id").as("y")),
          Seq("t", "b"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"))
    val cand = stored
      .map(s => collisions(newBands).unionAll(collisions(s("bands"))))
      .getOrElse(collisions(newBands))
      .distinct()

    // exact integer-cosine verify: each side's quantized vector from
    // the id-bucketed store (exchange-free) or the new batch — the
    // NEW batch's vector wins the coalesce (an id re-ingested with
    // changed content verifies against what this batch carries)
    def lookupVec(p: DataFrame, side: String, tag: String): DataFrame = {
      val fresh = newVecs.select(col("id").as(side),
        col("v").as(s"__nv_$tag"), col("n2").as(s"__nn_$tag"))
      val withNew = p.join(fresh, Seq(side), "left")
      stored match {
        case Some(st) =>
          withNew
            .join(st("vecs").select(col("id").as(side), col("v").as(s"__sv_$tag"),
              col("n2").as(s"__sn_$tag")), Seq(side), "left")
            .withColumn(s"v$tag",
              coalesce(col(s"__nv_$tag"), col(s"__sv_$tag")))
            .withColumn(s"n2$tag",
              coalesce(col(s"__nn_$tag"), col(s"__sn_$tag")))
            .drop(s"__nv_$tag", s"__nn_$tag", s"__sv_$tag", s"__sn_$tag")
        case None =>
          withNew.withColumnRenamed(s"__nv_$tag", s"v$tag")
            .withColumnRenamed(s"__nn_$tag", s"n2$tag")
      }
    }
    val withVecs = lookupVec(lookupVec(cand, "a_id", "a"), "b_id", "b")
    val verified = withVecs
      .select(col("a_id"), col("b_id"),
        Embeddings.cosine(Embeddings.qdot(col("va"), col("vb")),
          col("n2a"), col("n2b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

    // overlapped writes (guide §2.6): a torn pair is inert whichever
    // side lands first (class doc); both inputs are CacheScope-pinned
    val out = verified.localCheckpoint()
    graft.util.Par.both(
      ix.write(spark, "vecs", newVecs, buckets, batchId),
      ix.write(spark, "bands", newBands, buckets, batchId))
    out
  }

  /** Drop this index's tables and data (scratch-index lifecycle; dd25
    * registers it as a CacheScope release hook). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)
}
