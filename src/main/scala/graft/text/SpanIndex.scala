package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental exact-substring span dedup against a PERSISTED anchor
  * index — [[SubstringSpans]]'s batch-against-corpus form, the same
  * operational move [[DedupIndex]] makes for MinHash and
  * [[graft.multimodal.PhashIndex]] for perceptual hashes: a 100 TB
  * corpus ingests batch by batch, and each batch must find its
  * duplicated token spans against everything so far WITHOUT
  * re-anchoring the accumulated corpus.
  *
  * Index layout — bucketed catalog tables, partitioned by `batch`:
  *   - anchors `(doc_id, pos, h) CLUSTERED BY (h)` — the probe table;
  *   - adf     `(h, df)          CLUSTERED BY (h)` — each batch's
  *     per-anchor DISTINCT-DOC count. Doc ids are batch-unique
  *     (single-writer contract), so the corpus-wide document
  *     frequency of an anchor is the SUM across partitions — read
  *     only for the handful of anchors the new batch collides with
  *     (bucketed semi-probe, exchange-free stored side).
  *
  * The round-14 DOCUMENT-FREQUENCY CAP carries over incrementally:
  * an anchor whose accumulated df exceeds `maxDf` is dropped from
  * BOTH sides of the candidate join. Semantics are monotone: the cap
  * is evaluated against df AS OF PROBE TIME, so an anchor that
  * crosses the cap in a later batch stops generating NEW candidates
  * while spans already reported stand — the only sound choice for an
  * append-only pipeline (reports are immutable downstream). Batch-
  * wise output equals the one-shot [[SubstringSpans]] pass whenever
  * no anchor crosses the cap mid-ingest — a checkable condition:
  * [[capCrossings]] lists the crossing anchors, dd22 gates its
  * equality claim on the list being empty, and IndexSpec pins both
  * the equality on the dd19 corpus and the cap-crossing
  * monotonicity separately.
  *
  * The adf and anchors writes OVERLAP; [[graft.util.IndexTables]]
  * reads only batches present in BOTH tables, so a torn batch is
  * invisible until its retry: an adf-orphan would inflate the
  * accumulated df and silently drop anchors (missed spans), an
  * anchors-orphan would undercount df and silently disable the cap.
  * Either orphan suppresses nothing and never blocks further ingests.
  */
object SpanIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "spidx",
    Seq("adf" -> Seq("h"), "anchors" -> Seq("h")))

  /** Fold the batch partitions into one generation
    * ([[graft.util.IndexTables]] OPTIMIZE). */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean =
    tables(indexDir).compact(spark, buckets)

  /** Ingest one batch of tokenized docs `(idCol, tokensCol:
    * array<string>)`: returns the token-exact duplicated spans
    * involving this batch (`id1 < id2`, `span_tokens >= minTokens`,
    * new-new and new-stored), and appends the batch's anchors + df
    * counts. A crashed run re-ingests the same `batchId`
    * idempotently (dynamic-partition overwrite + own-batch
    * exclusion). */
  def ingestBatch(docs: DataFrame, idCol: String, tokensCol: String,
                  indexDir: String, batchId: Int,
                  k: Int = 8, maxDf: Int = 16, minTokens: Int = 16,
                  buckets: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val w = col(tokensCol)
    // the anchor-hash explode (k md5s per token) is the batch's CPU
    // wall and otherwise runs at the input's split count; no-op when
    // the batch already arrives wide (guide §2.5)
    val newAnchors = graft.util.CacheScope.track(
      graft.util.Spread.wide(docs, col(idCol))
      .select(col(idCol).as("doc_id"), posexplode(
        when(size(w) >= k,
          transform(sequence(lit(0), size(w) - k),
            i => md5(concat_ws(" ", slice(w, i + 1, lit(k))))))
          .otherwise(array())))
      .toDF("doc_id", "pos", "h"))
    val newAdf = graft.util.CacheScope.track(
      newAnchors.groupBy("h").agg(countDistinct(col("doc_id")).as("df")))

    val ix = tables(indexDir)
    val stored = ix.open(spark, buckets, batchId,
      "adf" -> newAdf, "anchors" -> newAnchors)

    // corpus-wide df for the batch's OWN anchors only: the stored adf
    // table is bucketed on h, so the semi-probe + partial sums stay
    // O(batch anchors), never O(corpus vocabulary)
    val totalDf = stored match {
      case Some(st) =>
        newAdf.unionAll(st("adf").select("h", "df")
          .join(newAdf.select("h"), Seq("h"), "left_semi"))
          .groupBy("h").agg(sum("df").as("df"))
      case None => newAdf
    }
    val hot = totalDf.filter(col("df") > maxDf).select("h")
    // kept feeds THREE consumers (its own self-join's two sides + the
    // stored-anchor probe key set); cache it or each re-derives the
    // df aggregate + anti-join chain
    val kept = graft.util.CacheScope.track(
      newAnchors.join(hot, Seq("h"), "left_anti"))
    // stored anchors matter only where they collide with the batch's
    // surviving anchors — and those h already passed the global cap
    val storedKept = stored.map(st =>
      st("anchors").join(kept.select("h").distinct(), Seq("h")))

    val mNewNew = kept.as("a")
      .join(kept.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.pos").as("pa"),
        (col("b.pos") - col("a.pos")).cast("long").as("delta"))
    val m = storedKept match {
      case Some(sk) =>
        val cross = kept
          .select(col("doc_id").as("nid"), col("pos").as("npos"), col("h"))
          .join(sk.select(col("doc_id").as("sid"), col("pos").as("spos"),
            col("h")), Seq("h"))
          .filter(col("nid") =!= col("sid"))
          .select(least(col("nid"), col("sid")).as("id1"),
            greatest(col("nid"), col("sid")).as("id2"),
            when(col("nid") < col("sid"), col("npos"))
              .otherwise(col("spos")).as("pa"),
            when(col("nid") < col("sid"), col("spos") - col("npos"))
              .otherwise(col("npos") - col("spos"))
              .cast("long").as("delta"))
        mNewNew.unionAll(cross)
      case None => mNewNew
    }
    val win = Window.partitionBy("id1", "id2", "delta").orderBy("pa")
    val spans = m
      .withColumn("grpk", col("pa") - row_number().over(win))
      .groupBy(col("id1"), col("id2"), col("delta"), col("grpk"))
      .agg(min(col("pa")).cast("long").as("start1"),
        count(lit(1)).as("n_anchors"))
      .withColumn("span_tokens", col("n_anchors") + (k - 1))
      .filter(col("span_tokens") >= minTokens)
      .select(col("id1"), col("id2"), col("start1"),
        (col("start1") + col("delta")).as("start2"), col("span_tokens"))

    // overlapped writes (guide §2.6): a torn pair is inert whichever
    // side lands first (class doc); both inputs are CacheScope-pinned
    val out = spans.localCheckpoint()
    graft.util.Par.both(
      ix.write(spark, "adf", newAdf, buckets, batchId),
      ix.write(spark, "anchors", newAnchors, buckets, batchId))
    out
  }

  /** Drop this index's tables and data (scratch-index lifecycle; dd22
    * registers it as a CacheScope release hook). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)

  /** Anchors whose accumulated df CROSSES `maxDf` mid-ingest on this
    * index — the exact condition under which batch-wise output can
    * diverge from the one-shot [[SubstringSpans]] pass: an anchor
    * that probed under the cap in an early batch but whose final df
    * exceeds it generates spans the one-shot pass suppresses.
    * Divergence-free iff this is empty: for every anchor, either the
    * final df is within the cap, or every batch the anchor appeared
    * in already saw the accumulated df over the cap. dd22's equality
    * claim is gated on this (driver-side count over the small adf
    * table — per-batch DISTINCT anchors, not positions). */
  def capCrossings(spark: SparkSession, indexDir: String,
                   maxDf: Int): DataFrame = {
    val ix = tables(indexDir)
    // same both-present gating as the stored view: a torn batch's adf
    // never fed any probe's accumulated df, so it must not fake a
    // crossing (an anchors-orphan has no adf rows to exclude)
    val live = spark.table(ix.name("adf"))
      .filter(col("batch").isInCollection(ix.live(spark)))
    val w = Window.partitionBy("h").orderBy("batch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("h")
    live
      .withColumn("cum", sum(col("df")).over(w))
      .withColumn("total", sum(col("df")).over(wAll))
      .filter(col("total") > maxDf && col("cum") <= maxDf)
      .select(col("h"), col("batch"), col("cum"), col("total"))
  }
}
