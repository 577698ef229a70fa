package graft.ops

import graft.util.AtomicText

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** CDC-watermark incremental processing (SURVEY.md §2.1 S2-S3, S8-S9, §2.9).
  *
  * The reference's shape (`accounts.py:36-41,110,131-161`):
  *   read watermark from `app.EtlCDC` → `SELECT TOP n * WHERE id > wm
  *   ORDER BY id` → transform → append + MERGE watermark in ONE
  *   transaction → loop until an empty batch.
  *
  * Spark-first re-expression: the watermark is a tiny keyed state
  * manifest (single file, atomically replaced — at production scale a
  * Delta table with `MERGE INTO`); the keyset scan is `filter > wm` +
  * `orderBy` + `limit`, which Catalyst plans as `TakeOrderedAndProject`
  * — no global sort materialization, and the `id > wm` predicate is
  * pushed into the parquet scan (min/max row-group skipping ≈ the
  * keyset index seek). Exactly-once apply without multi-table
  * transactions: each batch writes to a `batch=<id>` subdirectory and
  * the watermark manifest is committed last; on restart an
  * already-written batch directory is overwritten idempotently (same
  * batch id ⇒ same rows, since the scan is deterministic).
  */
object Cdc {

  /** S3 — one incremental batch: keyset-paginated scan. */
  def keysetBatch(src: DataFrame, idCol: String, watermark: Long, batchSize: Int): DataFrame =
    src.filter(col(idCol) > watermark).orderBy(col(idCol)).limit(batchSize)

  /** A4 — next watermark = max id of the batch (`accounts.py:110`).
    * Cast to Long in the PLAN: `max()` preserves the input type, and
    * `getLong` on an IntegerType id would ClassCastException. */
  def nextWatermark(batch: DataFrame, idCol: String): Option[Long] =
    batch.agg(max(col(idCol)).cast(LongType)).first() match {
      case r if r.isNullAt(0) => None
      case r                  => Some(r.getLong(0))
    }

  /** S2/S9 — watermark state persisted as a tiny keyed manifest file
    * (`app.EtlCDC(TableName, MaxIndex)`, `Setup/setup.sql:122-125`).
    *
    * @param spark   unused by the file-backed store; kept so the
    *                production variant (Delta `MERGE INTO`) is a
    *                drop-in replacement.
    * @param initial watermark when no state exists yet. The reference
    *   uses 0 (`ISNULL(MaxIndex,0)`, ids start at 1); testdata ids
    *   start at 0, so callers there pass -1 — the scan is exclusive
    *   (`id > wm`). */
  final class WatermarkStore(spark: SparkSession, path: String, initial: Long = 0L) {
    locally { val _ = spark } // see @param spark

    // Write-through cache: the state is tiny and this store is the
    // single writer (like the reference's one ETL process), so the
    // loop never re-reads the file per batch — disk is the restart path.
    private var cache: Option[Map[String, Long]] = None

    private def load(): Map[String, Long] = cache.getOrElse {
      // AtomicText.readLines rejects a non-file at `path` (e.g. the
      // round-1 parquet state DIRECTORY) with a migration hint.
      val m = AtomicText.readLines(path).map { line =>
        val i = line.lastIndexOf('\t')
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toMap
      cache = Some(m)
      m
    }

    def read(table: String): Long = synchronized {
      load().getOrElse(table, initial)
    }

    /** MERGE-equivalent upsert (`accounts.py:131-140`): read-modify-write
      * of the (tiny) state, committed as write-temp-file + Hadoop
      * `FileContext.rename(OVERWRITE)` (atomic on POSIX and HDFS; see
      * [[graft.util.AtomicText]] for the object-store caveat). A crash
      * leaves either the old or the new manifest intact — never
      * neither (the round-1 delete+rename DIRECTORY swap had a window
      * that lost the state and forced a reprocess-from-initial on
      * restart; a single-file rename is the atomic primitive). */
    def upsert(table: String, maxIndex: Long): Unit = synchronized {
      // synchronized (with read): the store stays single-PROCESS, but
      // Orchestrator.runConcurrent runs same-wave pipelines on driver
      // threads, and an unguarded read-modify-write here would lose
      // one table's watermark to another's concurrent upsert
      AtomicText.requireCleanKey(table, "watermark table name")
      val updated = load() + (table -> maxIndex)
      val body = updated.toSeq.sorted
        .map { case (t, v) => s"$t\t$v" }.mkString("", "\n", "\n")
      AtomicText.writeAtomically(path, body)
      cache = Some(updated)
      ()
    }
  }

  /** The `while True: extract→transform→load` loop (`accounts.py:147-161`),
    * driver-side control flow above Catalyst. Returns the number of
    * batches processed.
    *
    * `sink` receives (batchDf, startWatermark). The watermark — NOT a
    * restart-relative counter — is the batch identity: after a crash
    * between sink and watermark commit, the retried batch has the same
    * start watermark, hence the same rows and the same sink key, so an
    * idempotent sink (batch-keyed overwrite, [[graft.sources.Sinks]])
    * lands exactly-once. A counter would restart at 0 and collide with
    * earlier batches' directories.
    *
    * ONE job per batch: the next watermark (max id) and the batch row
    * count ride the sink's own action as `Dataset.observe` metrics
    * instead of a separate aggregation pass (round 1 ran scan+max then
    * scan+sink, with a persist between — twice the work). A batch
    * shorter than `batchSize` proves the source is drained, ending the
    * loop without a probe job; only the very first iteration pays a
    * `limit(1)` existence probe so a resume against an exhausted
    * source never invokes `sink`.
    *
    * Sink CONTRACT (enforced, not assumed): `sink` must execute at
    * least one Spark action that consumes EVERY row of the frame it is
    * given — which every batch-keyed writer in [[graft.sources.Sinks]]
    * does. Riding observe on the sink's action makes the metrics only
    * as complete as the sink's scan, so the loop verifies both failure
    * modes instead of hanging or silently losing data:
    *   - zero actions → the observation never fires; `getOrEmpty`
    *     (bounded wait) comes back empty and the loop throws, where
    *     `obs.get` would block forever;
    *   - partial scan (e.g. a `limit` probe) → the observed `n_rows`
    *     is strictly below `batchSize` (a full batch under-consumed)
    *     or the under-full final batch is under-read — either way the
    *     loop believes the source is drained, so ONE pushed-filter
    *     existence probe past the final watermark catches every
    *     under-consumption before returning, for the price of a
    *     single `limit(1)` scan per loop (not per batch). */
  /** @param verifyDrained run the end-of-loop under-consumption probe
    *   (see contract above). Leave ON for a source that is static for
    *   the duration of the loop — the reference's drain-then-exit
    *   semantics. Pass `false` when concurrent writers may append
    *   while the loop runs: a row arriving after the final batch is
    *   then indistinguishable from an under-consumed batch, and the
    *   probe would fail a compliant run (the next invocation picks the
    *   new rows up from the committed watermark either way).
    * @param metricsTimeoutSec bound on the observation-metrics wait;
    *   generous by default because metrics ride the async listener
    *   bus, which can lag under driver load. */
  def runLoop(src: DataFrame, idCol: String, table: String,
              store: WatermarkStore, batchSize: Int,
              transform: DataFrame => DataFrame,
              sink: (DataFrame, Long) => Unit,
              maxBatches: Int = Int.MaxValue,
              verifyDrained: Boolean = true,
              metricsTimeoutSec: Int = 60): Int = {
    var n = 0
    var done = false
    var first = true
    while (!done && n < maxBatches) {
      val wm    = store.read(table)
      val batch = keysetBatch(src, idCol, wm, batchSize)
      // the existence probe: one row, not the sorted batch — `head`
      // scans partitions one at a time and stops at the first row
      if (first && src.filter(col(idCol) > wm).head(1).isEmpty) { done = true }
      else {
        val obs = Observation(s"graft_cdc_${table}_$wm")
        val observed = batch.observe(obs,
          max(col(idCol)).cast(LongType).as("wm_next"),
          count(lit(1)).as("n_rows"))
        sink(transform(observed), wm)
        // A compliant sink has already completed an action, so the
        // observation future resolves ~immediately (listener-bus
        // latency only); a sink that ran NO action would leave
        // obs.get blocked forever — bound the wait and fail loudly.
        val metricsRow =
          try scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(metricsTimeoutSec.toLong, "s"))
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                s"CDC sink for '$table' returned without running a Spark " +
                  "action over the batch it was given — the watermark " +
                  "cannot advance. sink must execute exactly one full-scan " +
                  "action (any graft.sources.Sinks batch-keyed writer does).")
          }
        metricsRow.getAs[Any]("wm_next") match {
          case next: java.lang.Long =>
            store.upsert(table, next)
            n += 1
            // a short batch means the source is drained — stop here
            // (an exactly-full final batch costs one extra empty
            // iteration, whose idempotent empty write is harmless)
            done = metricsRow.getAs[Long]("n_rows") < batchSize
          case _ => done = true // empty batch (exactly-full predecessor)
        }
      }
      first = false
    }
    // Drained-source cross-check (see contract above): if the sink
    // under-consumed its batch, the loop lands here believing the
    // source is empty past the committed watermark while rows remain.
    if (verifyDrained && done && n > 0 &&
        !src.filter(col(idCol) > store.read(table)).limit(1).isEmpty)
      throw new IllegalStateException(
        s"CDC loop for '$table' stopped with unprocessed rows beyond " +
          s"watermark ${store.read(table)} — the sink's action did not " +
          "consume every batch row (partial scan, e.g. show()/limit), " +
          "so observe metrics under-reported. sink must execute exactly " +
          "one full-scan action per batch.")
    n
  }
}
