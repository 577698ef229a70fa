package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.IndexTables

/** Incremental cross-document LINE dedup — t33's one-shot semantics
  * (CCNet/C4: the first corpus-wide occurrence of a line survives,
  * every later repeat drops) maintained across batches, the line-grain
  * member of the incremental index family (MinHash dd9, phash dd18,
  * video dd21, spans dd22, clusters dd24, embeddings dd25).
  *
  * ONE bucketed table `lines(h, doc_id, ix) PARTITIONED BY (batch)
  * CLUSTERED BY (h)`: the batch's candidate firsts probe the stored
  * hashes with a LEFT ANTI join whose stored side is bucketed on
  * exactly the join key — exchange-free, only the O(batch) probe side
  * moves (the dd9 shape). Ingestion is idempotent per `batchId`
  * (dynamic-partition overwrite; the stored view excludes the batch
  * being retried).
  *
  * EQUALITY CONTRACT: batch-wise == one-shot t33 when batches ingest
  * in ascending doc_id-range order (each batch's ids follow all
  * earlier batches') — then a within-batch first IS the global first
  * whenever the stored probe misses. That is the crawl's natural
  * arrival order; out-of-order ingestion still dedups correctly, but
  * keeps the EARLIEST-ARRIVED occurrence rather than the smallest
  * (doc_id, ix) — the same as-of-arrival semantics the span index
  * documents. dd26 gates the equality against t33's own oracle.
  */
object LineIndex {

  private[graft] def tables(indexDir: String) = new IndexTables(indexDir, "idx",
    Seq("lines" -> Seq("h")))

  /** OPTIMIZE: fold batch partitions into one generation
    * ([[graft.util.IndexTables]] OPTIMIZE, single table). */
  def compact(spark: SparkSession, indexDir: String,
              buckets: Int = 4): Boolean =
    tables(indexDir).compact(spark, buckets)

  /** Ingest one batch: returns the batch's SURVIVING `(doc_id, ix)`
    * line occurrences (first in batch AND unseen in store), appending
    * their hashes to the index. The return is checkpointed — it is
    * the as-of-ingest-time verdict, stable under later ingests. */
  def ingestBatch(docs: DataFrame, idCol: String, textCol: String,
                  indexDir: String, batchId: Int,
                  buckets: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    // line explode + md5 runs at the input's split count without
    // this; no-op on wide batches (guide §2.5)
    val lines = graft.util.Spread.wide(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")))
      .toDF("doc_id", "ix", "line")
      .select(col("doc_id"), col("ix").cast("long").as("ix"),
        md5(col("line")).as("h"))
    val w = Window.partitionBy("h").orderBy(col("doc_id"), col("ix"))
    val firsts = lines.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("h"), col("doc_id"), col("ix"))
    val ix = tables(indexDir)
    ix.recover(spark)
    ix.ensure(spark, "lines", firsts, buckets)
    val t = ix.name("lines")
    val kept =
      if (!spark.catalog.tableExists(t)) firsts
      else firsts.join(
        spark.table(t).filter(col("batch") =!= batchId).select(col("h")),
        Seq("h"), "left_anti")
    ix.write(spark, "lines", kept, buckets, batchId)
    kept.select(col("doc_id"), col("ix")).localCheckpoint()
  }

  /** Drop this index's table and data (scratch-index lifecycle). */
  def dropIndex(spark: SparkSession, indexDir: String): Unit =
    tables(indexDir).dropIndex(spark)
}
