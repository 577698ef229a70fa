package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental dedup CLUSTERING against a persisted cluster-id table —
  * the step past the pair-grain index family ([[DedupIndex]],
  * [[SpanIndex]], [[graft.multimodal.PhashIndex]]): those answer
  * "which pairs are duplicates", production dedup needs "which doc
  * survives", and the survivor assignment must stay STABLE and
  * O(batch) per ingest. Each ingest folds the batch's new pairs into
  * the maintained components via union-find over AFFECTED components
  * only — the pair history is never rescanned (cf. ref
  * etl_documents.py's whole-corpus groupby, re-paid per run).
  *
  * Index layout — one logical row set `(id, cid, batch)` written to
  * TWO bucketed catalog tables (the probe direction differs):
  *   - assign  `(id, cid) PARTITIONED BY (batch) CLUSTERED BY (id)` —
  *     id → canonical lookups; the LATEST row per id (max batch) is
  *     current;
  *   - members `(id, cid) PARTITIONED BY (batch) CLUSTERED BY (cid)` —
  *     canonical → membership lookups for merge relabeling.
  *
  * Core invariant (components only MERGE, canonicals only DECREASE —
  * min-id keeper): if `c` is a LIVE canonical (some id's latest cid
  * is `c`), then every id EVER assigned `c` is currently in `c`'s
  * component — an id only leaves `c` when `c`'s whole component
  * merges away, which kills `c` as a canonical. So "rows ever written
  * with cid = c" IS the current membership of a live `c`, and a merge
  * relabels only the LOSING components' members: O(size of losers),
  * never O(corpus).
  *
  * Per ingest: look up current canonicals for the batch's touched ids
  * (assign is bucketed by id — exchange-free stored side), contract
  * the batch's pairs to CANONICAL-level edges, run min-label
  * connected components on that contracted graph (O(batch) nodes; a
  * distributed loop, not driver union-find — a day-of-crawl batch's
  * contracted graph does not fit a driver), then write one row per
  * new id and per relabeled member. The two writes overlap; either
  * orphan direction is inert — [[graft.util.IndexTables]] reads only
  * batches present in BOTH tables, so a torn batch is invisible until
  * its retry overwrites both partitions.
  *
  * Batch-wise assignments equal the one-shot
  * [[DedupClusters.connectedComponents]] over the concatenated pair
  * feed EXACTLY (no cap/threshold caveats — set union is associative;
  * dd24 gates it on dd6's oracle, IndexSpec pins keeper stability and
  * idempotent retry).
  */
object ClusterIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "clidx",
    Seq("members" -> Seq("cid"), "assign" -> Seq("id")))

  /** OPTIMIZE: fold the batch partitions into one generation AND
    * prune superseded rows (only the latest row per id survives — the
    * supersession order lives in `batch`, so the reduction runs
    * inside the fold, before the order collapses into one
    * generation). Pruning preserves the membership invariant: a
    * superseded row `(x, cOld)` is only ever consulted through
    * lookups of `cOld`, which is dead by the time the row is
    * superseded. */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean =
    tables(indexDir).compact(spark, buckets,
      reduce = df => {
        val w = Window.partitionBy("id").orderBy(col("batch").desc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      })

  /** Ingest one batch of verified duplicate pairs `(a, b)` (doc ids,
    * undirected): folds them into the maintained components and
    * returns the CURRENT `(id, canonical_id)` for every id the batch
    * touched. A crashed run re-ingests the same `batchId`
    * idempotently (dynamic-partition overwrite + own-batch
    * exclusion). */
  def ingestBatch(pairs: DataFrame, indexDir: String, batchId: Int,
                  buckets: Int = 4): DataFrame =
    ingestImpl(pairs, indexDir, batchId, buckets, buildView = true).get

  /** [[ingestBatch]] minus the per-batch assignments view — for
    * callers that only fold the batch in and read assignments at the
    * end ([[currentAssignments]]). Skipping the view saves its join +
    * localCheckpoint materialization per ingest; the index writes are
    * identical. Returning Unit (not a placeholder frame) makes
    * reading the nonexistent view a compile error, not silent empty
    * data. */
  def ingestBatchNoView(pairs: DataFrame, indexDir: String, batchId: Int,
                        buckets: Int = 4): Unit = {
    ingestImpl(pairs, indexDir, batchId, buckets, buildView = false)
    ()
  }

  private def ingestImpl(pairs: DataFrame, indexDir: String, batchId: Int,
                         buckets: Int, buildView: Boolean): Option[DataFrame] = {
    val spark = pairs.sparkSession
    val p = graft.util.CacheScope.track(
      pairs.select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val touched = p.select(col("a").as("id"))
      .unionAll(p.select(col("b").as("id"))).distinct()

    val ix = tables(indexDir)
    val empty = touched.limit(0)
      .select(col("id"), col("id").as("cid"))
    val stored = ix.open(spark, buckets, batchId,
      "members" -> empty, "assign" -> empty)

    // current canonical per touched id: latest stored row, else self.
    // The assign scan is bucketed on id, so both the semi-probe join
    // and the latest-row window run without a stored-side exchange.
    val cur = graft.util.CacheScope.track(stored match {
      case Some(st) =>
        val w = Window.partitionBy("id").orderBy(col("batch").desc)
        val latest = st("assign").join(touched, Seq("id"), "left_semi")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("id"), col("cid"))
        touched.join(latest, Seq("id"), "left")
          .select(col("id"), coalesce(col("cid"), col("id")).as("cid"))
      case None =>
        touched.select(col("id"), col("id").as("cid"))
    })

    // contract pairs to canonical-level edges and solve ONLY the
    // affected components: O(batch) nodes however large the corpus
    val contracted = p
      .join(cur.select(col("id").as("a"), col("cid").as("ca")), Seq("a"))
      .join(cur.select(col("id").as("b"), col("cid").as("cb")), Seq("b"))
      .select(col("ca").as("a"), col("cb").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val canonMap = graft.util.CacheScope.track(
      DedupClusters.connectedComponents(
          contracted.select(col("a").as("id"))
            .unionAll(contracted.select(col("b").as("id"))).distinct(),
          contracted)
        .select(col("id").as("cid"), col("canonical_id").as("ncid")))

    // rows to write: every NEW id (no stored assignment) lands with
    // its component's canonical; every member of a LOSING canonical
    // (ncid < cid) relabels — winners' rows already read correctly
    val withNew = cur.join(canonMap, Seq("cid"), "left")
      .select(col("id"), coalesce(col("ncid"), col("cid")).as("ncid"),
        col("cid"))
    val newIds = stored match {
      case Some(st) =>
        cur.select("id").join(st("assign").select("id").distinct(),
          Seq("id"), "left_anti")
      case None => cur.select("id")
    }
    val newRows = withNew.join(newIds, Seq("id"), "left_semi")
      .select(col("id"), col("ncid").as("cid"))
    val losers = canonMap.filter(col("ncid") < col("cid"))
    val relabeled = stored match {
      case Some(st) =>
        st("members").join(losers, Seq("cid"))
          .select(col("id"), col("ncid").as("cid")).distinct()
      case None => newRows.limit(0)
    }
    val rows = graft.util.CacheScope.track(
      // a new id can also sit in a losing NEW component — same target
      // cid from both legs; distinct collapses it
      newRows.unionAll(relabeled).distinct())

    val out =
      if (!buildView) None
      else Some(cur
        .join(rows.withColumnRenamed("cid", "newcid"), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newcid"), col("cid")).as("canonical_id"))
        .localCheckpoint())
    // overlapped writes (guide §2.6): a torn pair is inert whichever
    // side lands first, and `rows` is cached, so neither side
    // recomputes it
    graft.util.Par.both(
      ix.write(spark, "members", rows, buckets, batchId),
      ix.write(spark, "assign", rows, buckets, batchId))
    out
  }

  /** Current `(id, canonical_id)` for every id in `nodes` (single
    * column `id`): latest assignment, self for ids the pair feed
    * never touched. One exchange-free pass over the id-bucketed
    * assign table + one join. */
  def currentAssignments(spark: SparkSession, indexDir: String,
                         nodes: DataFrame): DataFrame = {
    val ix = tables(indexDir)
    ix.recover(spark)
    if (!spark.catalog.tableExists(ix.name("assign")))
      nodes.select(col("id"), col("id").as("canonical_id"))
    else {
      val w = Window.partitionBy("id").orderBy(col("batch").desc)
      val latest = spark.table(ix.name("assign"))
        .filter(col("batch").isInCollection(ix.live(spark)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("cid"))
      nodes.select(col("id"))
        .join(latest, Seq("id"), "left")
        .select(col("id"), coalesce(col("cid"), col("id")).as("canonical_id"))
    }
  }

  /** Drop this index's tables and data (scratch-index lifecycle; dd24
    * registers it as a CacheScope release hook). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)
}
