package graft.util

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The catalog-table lifecycle every incremental index shares
  * ([[graft.text.DedupIndex]], [[graft.text.SpanIndex]],
  * [[graft.sim.EmbedIndex]], [[graft.text.ClusterIndex]],
  * [[graft.multimodal.PhashIndex]]'s hash and video grains,
  * [[graft.text.LineIndex]], [[graft.sim.AnnIndex]]). A family names
  * its tables as (sub-dir, bucket keys) pairs in WRITE order — data
  * first, probe last — and keeps only its keys, banding and
  * probe/verify plans.
  *
  * Layout — BUCKETED external catalog tables rooted at
  * `<indexDir>/<sub>`, named `graft_<family>_<sub>_<md5 tag>` (the tag
  * derives from the index directory, so independent indexes in one
  * session never collide), partitioned by `batch`. Bucketing is what
  * makes an index INCREMENTAL at scale: the stored side of every
  * per-batch join arrives pre-partitioned on its join key, so a probe
  * plan has NO Exchange on the stored side (ScaleSpec pins this) —
  * per-batch shuffle volume is O(batch), not O(corpus history).
  * Partitioning by `batch` keeps ingestion append-only: a retry
  * dynamic-partition-overwrites ONLY its own `batch=N` partition.
  *
  * Torn batches: a family's writes of one batch may OVERLAP
  * ([[Par.both]]), so a crash between them leaves either table's
  * partition as the orphan. [[stored]] reads only batches present in
  * EVERY table (a driver-side directory listing, no job), so either
  * orphan direction is INERT — the torn batch is invisible, as if
  * never ingested, until its retry overwrites all partitions.
  *
  * Catalog loss: an index whose DATA survives a JVM restart but whose
  * catalog entries (session-scoped here; a metastore in production)
  * did not is RE-REGISTERED by [[ensure]], never overwritten — the
  * `saveAsTable(Overwrite)` first-write path would otherwise silently
  * destroy the accumulated index. [[open]] runs recovery and
  * re-registration BEFORE the probe view is built: otherwise the view
  * would find no table and the batch would probe an "empty" index,
  * silently missing every cross-batch pair (IndexSpec's catalog-loss
  * test).
  *
  * OPTIMIZE ([[compact]]) folds every complete batch into ONE
  * negative-id generation partition, preserving bucketing and the
  * torn-batch invariant. Crash-safe via a two-phase marker
  * ([[markerPath]], `_compact_<probe sub>.tsv`): `staged` (the rewrite
  * may be torn → ROLL BACK, sources intact) flips to `committed`
  * (every generation partition complete → ROLL FORWARD, finish the
  * source drops) only after all tables' generation partitions land;
  * [[recover]] completes either way and runs before every ingest,
  * probe view and compaction. Folding a batch ENDS its retry window —
  * compact only finalized batches, the contract of
  * [[graft.sources.Sinks.compact]].
  *
  * Single-writer assumption (same as the reference's loader): batch
  * ids are assigned monotonically by one producer.
  */
private[graft] final class IndexTables(indexDir: String, family: String,
                                       tables: Seq[(String, Seq[String])]) {
  import IndexTables._

  private val tag = java.security.MessageDigest.getInstance("MD5")
    .digest(indexDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  private val subs = tables.map(_._1)
  private val probe = subs.last

  /** Catalog name of the table rooted at `<indexDir>/<sub>`. */
  def name(sub: String): String = s"graft_${family}_${sub}_$tag"
  private def dir(sub: String) = s"$indexDir/$sub"
  private def tmpDir(sub: String) = s"$indexDir/_compact_tmp_$sub"
  private def keys(sub: String) = tables.collectFirst { case (`sub`, k) => k }.get

  /** The OPTIMIZE marker, named after the probe table. */
  def markerPath: String = s"$indexDir/_compact_$probe.tsv"

  /** Re-register `sub` from surviving data after a catalog loss (class
    * doc); a no-op when the table exists or no data survived. Bucket
    * count must match the original write (bucket-file names encode the
    * id, not the count). */
  def ensure(spark: SparkSession, sub: String, df: DataFrame, buckets: Int): Unit =
    if (!spark.catalog.tableExists(name(sub)) && fsBatches(spark, dir(sub)).nonEmpty) {
      val cols = df.schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val bk = keys(sub).map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE ${name(sub)} ($cols) USING parquet
           |PARTITIONED BY (batch INT)
           |CLUSTERED BY ($bk) SORTED BY ($bk) INTO $buckets BUCKETS
           |LOCATION '${dir(sub)}'""".stripMargin)
      spark.sql(s"ALTER TABLE ${name(sub)} RECOVER PARTITIONS")
      ()
    }

  /** One batch partition of one table. The batch is pre-partitioned to
    * exactly `buckets` tasks on the bucket keys — same hash as the
    * bucket-id assignment — so each task writes ONE bucket file instead
    * of tasks×buckets splinters. First write creates the bucketed
    * external table; after that, dynamic-partition OVERWRITE of
    * `batch=N` only — the retry-idempotent append. */
  def write(spark: SparkSession, sub: String, df: DataFrame, buckets: Int,
            batchId: Int): Unit = {
    ensure(spark, sub, df, buckets)
    val ks = keys(sub)
    val withBatch = df.repartition(buckets, ks.map(col): _*)
      .withColumn("batch", lit(batchId))
    if (!spark.catalog.tableExists(name(sub))) {
      withBatch.write.mode(SaveMode.Overwrite)
        .partitionBy("batch")
        .bucketBy(buckets, ks.head, ks.tail: _*)
        .sortBy(ks.head, ks.tail: _*)
        .option("path", dir(sub))
        .format("parquet")
        .saveAsTable(name(sub))
    } else DynOverwrite.around(spark) {
      withBatch.write.mode(SaveMode.Overwrite).insertInto(name(sub))
    }
  }

  /** Batch ids present on disk in EVERY table — the complete batches. */
  def live(spark: SparkSession): Set[Int] =
    subs.map(s => fsBatches(spark, dir(s))).reduce(_ intersect _)

  /** Every table by sub-dir, filtered to the complete batches minus
    * `excludeBatch` (the id being re-ingested: a crash-retry of a batch
    * whose write already ran would otherwise see its own rows), or None
    * before the first complete batch. Reads go through the CATALOG
    * tables so the scans report their bucketed distribution; `batch`
    * stays a column (ClusterIndex orders by it). */
  def stored(spark: SparkSession, excludeBatch: Int): Option[Map[String, DataFrame]] = {
    recover(spark)
    if (!spark.catalog.tableExists(name(probe))) None
    else {
      val batches = live(spark) - excludeBatch
      if (batches.isEmpty) None
      else Some(subs.map(s => s ->
        spark.table(name(s)).filter(col("batch").isInCollection(batches))).toMap)
    }
  }

  /** The ingest prologue: restart recovery, re-registration of each
    * `(sub, frame)` from surviving data (the frame gives the schema),
    * then [[stored]] — in that order (class doc, catalog loss). */
  def open(spark: SparkSession, buckets: Int, excludeBatch: Int,
           frames: (String, DataFrame)*): Option[Map[String, DataFrame]] = {
    recover(spark)
    frames.foreach { case (sub, df) => ensure(spark, sub, df, buckets) }
    stored(spark, excludeBatch)
  }

  /** OPTIMIZE (class doc). Returns false when fewer than two complete
    * batches exist. `reduce` sees the folding rows WITH their `batch`
    * column (identity by default) — ClusterIndex prunes superseded
    * rows with it, whose supersession order lives in `batch`. */
  def compact(spark: SparkSession, buckets: Int,
              reduce: DataFrame => DataFrame = identity): Boolean = {
    recover(spark)
    if (!spark.catalog.tableExists(name(probe))) return false
    // COMPLETE batches only: a torn ingest's orphan partition stays in
    // place for its batch retry, never merges into a generation
    val srcs = live(spark)
    if (srcs.size <= 1) return false
    fold(spark, markerPath, "committed", srcs) { target =>
      subs.foreach(s => stageAndWrite(spark, s, buckets, target, srcs, reduce))
    }
    true
  }

  /** One crash-safe fold of `srcs` into the generation partition below
    * both them and 0: write `marker` as `staged` (plus `extra` lines),
    * run `rewrite(target)` in write order, flip the marker to
    * `forward`, run `afterCommit`, drop the sources, delete the marker.
    * [[recoverFold]] finishes or undoes it after a crash. */
  def fold(spark: SparkSession, marker: String, forward: String, srcs: Set[Int],
           extra: String = "", afterCommit: () => Unit = () => ())
          (rewrite: Int => Unit): Unit = {
    val target = math.min(srcs.min, 0) - 1
    def body(state: String) = s"state\t$state\ntarget\t$target\n" +
      s"sources\t${srcs.toSeq.sorted.mkString(",")}\n$extra"
    AtomicText.writeAtomically(marker, body("staged"))
    rewrite(target)
    AtomicText.writeAtomically(marker, body(forward))
    afterCommit()
    srcs.toSeq.sorted.foreach(dropBatch(spark, _))
    fsDelete(spark, marker)
  }

  /** Finish (or undo) an interrupted [[compact]] — a no-op unless its
    * marker exists. */
  def recover(spark: SparkSession): Unit =
    recoverFold(spark, markerPath, "committed")()

  /** Finish (or undo) an interrupted [[fold]] recorded in `marker`:
    * `staged` rolls BACK (the generation may be torn; every source is
    * intact), `forward` rolls FORWARD (`onForward` sees the marker's
    * lines, then the source drops finish). */
  def recoverFold(spark: SparkSession, marker: String, forward: String)
                 (onForward: Seq[String] => Unit = _ => ()): Unit = {
    val lines = AtomicText.readLines(marker)
    if (lines.isEmpty) return
    val kv = lines.map(_.split("\t", 2))
      .collect { case Array(k, v) => k -> v.trim }.toMap
    kv("state") match {
      case "staged" => dropBatch(spark, kv("target").toInt)
      case `forward` =>
        onForward(lines)
        kv.get("sources").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
          .foreach(b => dropBatch(spark, b.toInt))
      case s => throw new IllegalStateException(
        s"index marker $marker has unknown state '$s'")
    }
    subs.foreach(s => fsDelete(spark, tmpDir(s)))
    fsDelete(spark, marker)
  }

  /** Write `rows` as `sub`'s `batch=target` partition, staged through a
    * scratch parquet dir: Spark refuses an insertInto whose source
    * scans the destination table, and bucketed files must be written
    * THROUGH the table (bucket ids ride the file names). */
  def stage(spark: SparkSession, sub: String, rows: DataFrame, buckets: Int,
            target: Int): Unit = {
    rows.write.mode(SaveMode.Overwrite).parquet(tmpDir(sub))
    write(spark, sub, spark.read.parquet(tmpDir(sub)).select(rows.columns.toSeq.map(col): _*),
      buckets, target)
    fsDelete(spark, tmpDir(sub))
  }

  /** Rewrite the `srcs` batches of `sub` into `batch=target` through
    * [[stage]]; `reduce` as in [[compact]]. */
  def stageAndWrite(spark: SparkSession, sub: String, buckets: Int, target: Int,
                    srcs: Set[Int], reduce: DataFrame => DataFrame = identity): Unit = {
    val cols = spark.table(name(sub)).columns.filter(_ != "batch").toSeq
    stage(spark, sub,
      reduce(spark.table(name(sub)).filter(col("batch").isInCollection(srcs)))
        .select(cols.map(col): _*),
      buckets, target)
  }

  /** Drop one batch partition from catalog + disk — probe table FIRST
    * (reverse write order: the probe's batches stay a subset of the
    * data's at any crash point inside the drop). */
  def dropBatch(spark: SparkSession, b: Int): Unit =
    for (s <- subs.reverse) {
      if (spark.catalog.tableExists(name(s)))
        spark.sql(s"ALTER TABLE ${name(s)} DROP IF EXISTS PARTITION (batch='$b')")
      fsDelete(spark, s"${dir(s)}/batch=$b")
    }

  /** Drop the catalog tables and delete the whole index directory — for
    * SCRATCH indexes whose lifetime is one query (the scenarios register
    * it as a [[CacheScope]] release hook). */
  def dropIndex(spark: SparkSession): Unit = {
    subs.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${name(s)}"))
    fsDelete(spark, indexDir)
  }

  /** Persist integer geometry `params` in `<indexDir>/_geometry.tsv`
    * (`key<TAB>value` lines) on first ingest; refuse a mismatch
    * afterwards — stored keys built under other parameters are
    * unreachable, which reads as silent recall loss, so it is an
    * error. */
  def pinGeometry(what: String, params: (String, Int)*): Unit = {
    val path = s"$indexDir/_geometry.tsv"
    AtomicText.readLines(path) match {
      case Seq() =>
        AtomicText.writeAtomically(path, params.map { case (k, v) => s"$k\t$v\n" }.mkString)
      case lines =>
        val pinned = lines.map(_.split("\t"))
          .collect { case Array(k, v) => k -> v.trim.toInt }.toMap
        require(params.forall { case (k, v) => pinned.get(k).contains(v) },
          s"$what index $indexDir was created with " +
            params.map { case (k, _) => s"$k=${pinned.getOrElse(k, "?")}" }.mkString("/") +
            "; this ingest asked for " +
            params.map { case (k, v) => s"$k=$v" }.mkString("/") +
            " — stored bands would be unreachable under a different key space")
    }
  }
}

private[graft] object IndexTables {

  /** Batch ids present on disk under one index table root — a
    * driver-side filesystem listing (Hadoop FS, so HDFS/object-store
    * paths work), no Spark job. */
  def fsBatches(spark: SparkSession, dir: String): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toInt).toSet
  }

  def fsDelete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Dynamic-partition-overwrite session flag, REFCOUNTED: two index
    * writes overlapped via [[Par]] both need the flag up for their
    * whole action (`insertInto` reads the SESSION conf; the
    * writer-level option is not honored on the insertInto path), so a
    * bare set/restore pair would race — the first finisher restoring
    * the conf under the second's still-running write. The flag goes up
    * on first entry and is restored only when the last writer exits. */
  private object DynOverwrite {
    private val key = "spark.sql.sources.partitionOverwriteMode"
    private var depth = 0
    private var prev: Option[String] = None
    def around[T](spark: SparkSession)(f: => T): T = {
      synchronized {
        if (depth == 0) { prev = spark.conf.getOption(key)
          spark.conf.set(key, "dynamic") }
        depth += 1
      }
      try f finally synchronized {
        depth -= 1
        if (depth == 0) prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
    }
  }
}
