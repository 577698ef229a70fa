package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.{AtomicText, IndexTables}

/** Persisted IVF-PQ index — [[Embeddings.ivfPqTopK]]'s operational
  * form, the same move the dedup family makes for bands and anchors:
  * a 100 TB embedding corpus ingests incrementally, so the ANN
  * structures must not rebuild per query (every sim query so far
  * re-derives centroids + codebook + codes from scratch).
  *
  * GEOMETRY IS PINNED AT CREATION (the PhashIndex `_geometry.tsv`
  * precedent, and how FAISS-style stores actually work: train once
  * on a sample, add forever): `create` computes the IVF centroids
  * (exact integer label-centroid sums) and the PQ codebook (the
  * nTrain smallest train ids' subvectors) from a TRAINING frame and
  * persists both to `<dir>/_geometry.tsv`; every later batch encodes
  * against that fixed geometry. Re-deriving per batch would silently
  * partition history into incompatible code spaces — the same
  * failure mode the phash band-width pin exists for. The ONE
  * sanctioned way geometry changes is [[retrain]] (round 16): a
  * generation fold that re-learns the geometry from the stored
  * vecs reservoir and re-encodes every stored code under it in the
  * same crash-safe marker protocol.
  *
  * Codes live in ONE bucketed catalog table
  * `(id, cl, j, code) PARTITIONED BY (batch) CLUSTERED BY (cl)`:
  * queries probe `nprobe` clusters, and the bucket layout keeps the
  * stored side exchange-free under the probe join (ScaleSpec pins
  * it); at production scale `cl` would also partition, turning the
  * probe list into partition pruning. Ingestion is idempotent per
  * `batchId` (dynamic-partition overwrite), matching the rest of the
  * index family.
  *
  * With geometry trained on the full corpus, batch-wise ingest +
  * [[query]] equals the one-shot [[Embeddings.ivfPqTopK]] EXACTLY
  * (same integer arithmetic, same tie-breaks) — sim12 gates on
  * sim6's oracle; SimSpec pins recall vs brute force.
  */
object AnnIndex {

  /** Two tables in write order: the RETRAIN RESERVOIR (round 16) of
    * quantized vectors, id-bucketed, then the codes — the probe table,
    * written last, so its batches are the source-of-truth list. The
    * reservoir is COLD storage — queries never touch it (the codes
    * table is the memory-resident probe side, PQ's whole point); only
    * [[retrain]] scans it. FAISS users keep original vectors for
    * exactly this — a codebook is re-trainable only from vectors,
    * never from its own lossy codes. */
  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "annidx",
    Seq("vecs" -> Seq("id"), "codes" -> Seq("cl")))

  private def geometryPath(indexDir: String) = s"$indexDir/_geometry.tsv"
  private def retrainMarker(indexDir: String) = s"$indexDir/_retrain.tsv"

  /** OPTIMIZE: fold the batch partitions into one generation
    * ([[graft.util.IndexTables]] OPTIMIZE) — daily ingestion otherwise
    * leaves one partition per batch forever, every probe scanning all
    * of them. Folding a batch ends its retry window, as across the
    * family. */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean = {
    recoverRetrain(spark, indexDir)
    tables(indexDir).compact(spark, buckets)
  }

  final case class Geometry(m: Int, subDim: Int, nTrain: Int,
                            cents: Seq[(Int, Long, Seq[Long])],
                            codes: Seq[(Int, Long, Seq[Long])])

  /** Geometry body from a quantized `(id, cl, v)` frame — shared by
    * [[create]] and [[retrain]]. Centroids and codebook are SMALL by
    * construction (|labels|·dim and m·nTrain·subDim integers), so the
    * driver-side collect is the geometry artifact, not a data move. */
  private def geometryBody(q: DataFrame, m: Int, subDim: Int,
                           nTrain: Int): String = {
    val cents = Embeddings.labelCentroids(q, "cl", m * subDim)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Long](2))).sortBy(_._1)
    val codes = Embeddings.pqCodebook(
        Embeddings.pqSubs(q, m, subDim), nTrain)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Long](2))).sortBy(c => (c._1, c._2))
    val body = new StringBuilder
    body.append(s"param\tm\t$m\nparam\tsubDim\t$subDim\n")
    body.append(s"param\tnTrain\t$nTrain\n")
    cents.foreach { case (cl, n, s) =>
      body.append(s"cent\t$cl\t$n\t${s.mkString(",")}\n") }
    codes.foreach { case (j, c, cw) =>
      body.append(s"code\t$j\t$c\t${cw.mkString(",")}\n") }
    body.toString
  }

  /** Train + pin the index geometry. `train` is the training sample
    * (the full corpus in the gated query; a sample at 100 TB — the
    * FAISS contract). Refuses to overwrite an existing geometry:
    * stored codes are only decodable under the codebook that wrote
    * them — [[retrain]] is the sanctioned re-training path (it
    * re-encodes the stored corpus in the same fold). */
  def create(train: DataFrame, idCol: String, embCol: String,
             labelCol: String, indexDir: String,
             m: Int = 8, subDim: Int = 8, nTrain: Int = 16): Unit = {
    require(AtomicText.readLines(geometryPath(indexDir)).isEmpty,
      s"ann index $indexDir already has pinned geometry — stored codes " +
        "are undecodable under a new codebook; create a fresh index " +
        "or OPTIMIZE RETRAIN this one")
    val q = train.select(col(idCol).as("id"), col(labelCol).as("cl"),
      Embeddings.quantizeChecked(col(embCol), m * subDim, 1e4).as("v"))
    AtomicText.writeAtomically(geometryPath(indexDir),
      geometryBody(q, m, subDim, nTrain))
  }

  private def parseGeometry(lines: Seq[String]): Geometry = {
    val kv = lines.map(_.split("\t"))
    def param(k: String): Int = kv.collectFirst {
      case Array("param", `k`, v) => v.toInt }.get
    Geometry(param("m"), param("subDim"), param("nTrain"),
      kv.collect { case Array("cent", cl, n, s) =>
        (cl.toInt, n.toLong, s.split(",").toSeq.map(_.toLong)) },
      kv.collect { case Array("code", j, c, cw) =>
        (j.toInt, c.toLong, cw.split(",").toSeq.map(_.toLong)) })
  }

  /** The pinned geometry — loud when absent (an index without
    * geometry has no code space to encode into). */
  def geometry(indexDir: String): Geometry = {
    val lines = AtomicText.readLines(geometryPath(indexDir))
    require(lines.nonEmpty,
      s"ann index $indexDir has no pinned geometry — run create() first")
    parseGeometry(lines)
  }

  private def codebookDf(spark: SparkSession, g: Geometry): DataFrame = {
    import spark.implicits._
    g.codes.toDF("j", "c", "cw")
  }

  /** Encode one batch against the pinned codebook and append to the
    * cl-bucketed codes table (vecs reservoir first — codes last keeps
    * the torn invariant: a crash leaves a vecs orphan that the batch
    * retry overwrites, never a code batch without its vectors).
    * Idempotent per `batchId`. */
  def ingestBatch(vectors: DataFrame, idCol: String, embCol: String,
                  labelCol: String, indexDir: String, batchId: Int,
                  buckets: Int = 4): Unit = {
    val spark = vectors.sparkSession
    recoverRetrain(spark, indexDir)
    val g = geometry(indexDir)
    val q = vectors.select(col(idCol).as("id"), col(labelCol).as("cl"),
      Embeddings.quantizeChecked(col(embCol), g.m * g.subDim, 1e4).as("v"))
    val codes = Embeddings.pqCodes(
        Embeddings.pqSubs(q, g.m, g.subDim), codebookDf(spark, g))
      .join(q.select(col("id"), col("cl")), Seq("id"))
      .select(col("id"), col("cl"), col("j"), col("code"))
    val ix = tables(indexDir)
    ix.recover(spark)
    ix.write(spark, "vecs", q.select(col("id"), col("cl"), col("v")),
      buckets, batchId)
    ix.write(spark, "codes", codes, buckets, batchId)
  }

  // ------------------------------------------------ OPTIMIZE RETRAIN

  /** OPTIMIZE RETRAIN (round 16): re-train the geometry on the STORED
    * corpus and re-encode every stored code under the new codebook,
    * as one crash-safe generation fold — the end of the
    * frozen-geometry-forever boundary. A 100 TB corpus DRIFTS: a
    * codebook trained at creation time mis-shapes vectors that arrive
    * from a region it never saw, and FAISS users re-train on
    * schedule for exactly this. Hyper-parameters (m, subDim, nTrain)
    * are kept; the VALUES re-learn from the vecs reservoir.
    *
    * Protocol ([[graft.util.IndexTables.fold]], plus a geometry swap
    * state): stage the new geometry INSIDE the marker, fold vecs to
    * the generation partition, re-encode codes FROM the folded vecs
    * under the new codebook (probe table written last), mark
    * `swapped`, atomically replace `_geometry.tsv`, drop the source
    * batches. Crash before `swapped` rolls BACK (old geometry + old
    * batches intact — retry later); crash after rolls FORWARD (the
    * marker re-applies the geometry idempotently, then finishes the
    * drops). Every entry point runs [[recoverRetrain]] first, so a
    * torn retrain can never serve mixed code spaces.
    *
    * An undrifted corpus re-derives the SAME geometry (both trainers
    * are deterministic in the stored rows), so probes are identical
    * before and after — SimSpec pins that, and the recall recovery
    * on a drifted one. */
  def retrain(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean = {
    recoverRetrain(spark, indexDir)
    val ix = tables(indexDir)
    ix.recover(spark)
    if (!spark.catalog.tableExists(ix.name("codes"))) return false
    val g0 = geometry(indexDir)
    val srcs = IndexTables.fsBatches(spark, s"$indexDir/codes")
    if (srcs.isEmpty) return false
    val missing = srcs -- IndexTables.fsBatches(spark, s"$indexDir/vecs")
    require(missing.isEmpty,
      s"ann index $indexDir: code batches ${missing.mkString(",")} have " +
        "no vecs reservoir — a codebook cannot re-train from its own " +
        "lossy codes; re-ingest those batches")
    val stored = spark.table(ix.name("vecs"))
      .filter(col("batch").isInCollection(srcs))
      .select(col("id"), col("cl"), col("v"))
    val body = geometryBody(stored, g0.m, g0.subDim, g0.nTrain)
    val g1 = parseGeometry(body.split("\n").toSeq)
    ix.fold(spark, retrainMarker(indexDir), "swapped", srcs,
      extra = body.split("\n").map(l => s"geom\t$l\n").mkString,
      afterCommit = () => AtomicText.writeAtomically(geometryPath(indexDir), body)) {
      target =>
        // fold the reservoir, then re-encode codes FROM the folded vecs
        // under the NEW codebook (write order: data first, probe last)
        ix.stageAndWrite(spark, "vecs", buckets, target, srcs)
        val qv = spark.table(ix.name("vecs")).filter(col("batch") === target)
          .select(col("id"), col("cl"), col("v"))
        ix.stage(spark, "codes", Embeddings.pqCodes(
            Embeddings.pqSubs(qv, g1.m, g1.subDim), codebookDf(spark, g1))
          .join(qv.select(col("id"), col("cl")), Seq("id"))
          .select(col("id"), col("cl"), col("j"), col("code")), buckets, target)
    }
    true
  }

  /** Finish (or undo) an interrupted [[retrain]] — a no-op unless the
    * `_retrain.tsv` marker exists. `staged` rolls back (the live
    * geometry was never touched); `swapped` re-applies the marker's
    * geometry (idempotent) and finishes the drops. Runs before every
    * ingest, query, compact, and retrain. */
  private[graft] def recoverRetrain(spark: SparkSession,
                                    indexDir: String): Unit =
    tables(indexDir).recoverFold(spark, retrainMarker(indexDir), "swapped") { lines =>
      AtomicText.writeAtomically(geometryPath(indexDir), lines
        .filter(_.startsWith("geom\t")).map(_.stripPrefix("geom\t"))
        .mkString("", "\n", "\n"))
    }

  /** ADC top-k over the STORED codes: probe the `nprobe` nearest
    * pinned centroids per query (exact integer n²·d², ties by
    * label), build the query↔codeword lookup table against the
    * pinned codebook, and score only the probed clusters' codes —
    * [[Embeddings.ivfPqTopK]] with the corpus side read from the
    * index. Self-matches excluded by id, as there. */
  def query(spark: SparkSession, indexDir: String, queries: DataFrame,
            idCol: String, embCol: String, k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    recoverRetrain(spark, indexDir)
    val g = geometry(indexDir)
    val qv = graft.util.CacheScope.track(
      queries.select(col(idCol).as("id"),
        Embeddings.quantizeChecked(col(embCol), g.m * g.subDim, 1e4).as("v")))
    val cents = g.cents.toDF("cl", "n", "s")
    val pw = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cl").asc)
    val probed = qv.select(col("id").as("query_id"), col("v"))
      .join(broadcast(cents))
      .select(col("query_id"), col("cl"), Embeddings.dist2n2.as("d2"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("query_id").as("p_query_id"), col("cl"))
    val lut = Embeddings.pqLut(
      Embeddings.pqSubs(qv, g.m, g.subDim), codebookDf(spark, g),
      lit(true))
    val ix = tables(indexDir)
    ix.recover(spark)
    val codes = spark.table(ix.name("codes"))
      .select(col("id"), col("cl"), col("j"), col("code"))
    Embeddings.adcRank(codes.join(broadcast(probed), Seq("cl"))
      .join(broadcast(lut),
        codes("j") === lut("j") && lut("c") === codes("code") &&
          col("p_query_id") === lut("query_id")), k)
  }

  /** Drop this index's tables, geometry, and data — for SCRATCH
    * indexes whose lifetime is one query (sim12 registers this as a
    * CacheScope release hook). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)
}
