package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/** Sink adapters (SURVEY.md §2.1 S8-S12).
  *
  * The reference's load phase is: idempotent `ALTER TABLE ADD` (S10),
  * transactional append (S8), side "Sync" table write (S11), per-column
  * SQL type mapping (S12) — all inside one DB transaction. Without a
  * transactional table format offline, exactly-once is recovered the
  * way [[graft.ops.Cdc]] does: deterministic batch → batch-keyed
  * directory (idempotent overwrite) → watermark committed last. On a
  * cluster with Delta/Iceberg the same call sites become `MERGE` /
  * txn-append with no shape change.
  */
object Sinks {

  /** Physical read over manifest dirs. Without `physSchema`: parquet
    * `mergeSchema` union (the additive-evolution path). With it (a
    * columnMapping table's [[SchemaLog.physicalSchema]]): an EXPLICIT
    * requested schema — required after a widen-only retype, where old
    * files carry the narrower physical type (schema MERGE refuses an
    * int/long mix; the reader's widening PROMOTION does not), and
    * also what clips missing columns to NULL and skips dropped
    * physical columns entirely. */
  private[graft] def readDirs(spark: org.apache.spark.sql.SparkSession,
                              dirs: Seq[String],
                              physSchema: Option[org.apache.spark.sql.types.StructType])
    : DataFrame = physSchema match {
    case Some(s) => spark.read.schema(s).parquet(dirs: _*)
    case None =>
      // mergeSchema spawns a distributed footer-inference job PER READ;
      // a multi-statement scenario (MV refresh, merge chain) re-reads
      // the same write-once batch dirs dozens of times. When every
      // dir's schema is identical (no evolution in flight — the common
      // case), passing it explicitly is byte-equivalent to the merge
      // and skips the job; any disagreement — BETWEEN dirs or between
      // files WITHIN one dir (dirSchema returns None) — falls back to
      // the real mergeSchema read, preserving union/refusal semantics
      // exactly.
      val schemas = dirs.map(dirSchema(spark, _))
      if (schemas.nonEmpty && schemas.forall(_.isDefined) &&
          schemas.forall(_ == schemas.head))
        spark.read.schema(schemas.head.get).parquet(dirs: _*)
      else spark.read.option("mergeSchema", true).parquet(dirs: _*)
  }

  /** Per-dir parquet schema for the explicit-schema fast path, or
    * None when the dir's data files do not all share ONE footer
    * schema — a dir written across a schema-evolution boundary must
    * not silently read with one file's footer, so within-dir
    * divergence routes the whole read back to `mergeSchema`. The
    * footers are read and converted on the driver (no Spark job; a dir
    * with nested subdirectories asks Spark's inference, which adds
    * their partition columns), and
    * the result is memoized on a CONTENT signature of the recursive
    * data-file listing (path + length + mtime) — NOT the parent dir
    * mtime, which does not change when files inside nested
    * subdirectories are rewritten. */
  private val dirSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Option[org.apache.spark.sql.types.StructType])]()

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path)
    : Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs.listStatus(p).toSeq
    it.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }
  }

  /** The footer key Spark stores a written frame's schema under. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private[graft] def dirSchema(spark: org.apache.spark.sql.SparkSession, dir: String)
    : Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files = dataFiles(fs, p)
    if (files.isEmpty) return None
    val sig = files.map(f =>
        s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString("\n")
    val hit = dirSchemaMemo.get(dir)
    if (hit != null && hit._1 == sig) return hit._2
    val footers = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getFooter finally r.close()
    }
    // uniform = one parquet schema AND one stored Spark schema, so any
    // file's footer converts to what Spark's single-footer inference
    // would give; files in nested subdirectories fall back to Spark's
    // inference, which adds their partition columns
    val uniform = footers.map { m =>
      val meta = m.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData.get(SparkRowMetadataKey))
    }.distinct.size == 1
    val out =
      if (!uniform) None
      else if (files.exists(_.getPath.getParent != fs.makeQualified(p)))
        Some(spark.read.parquet(dir).schema)
      else Some(org.apache.spark.sql.graftbridge.FooterBridge.schemaOf(
        spark, files.head.getPath, footers.head))
    dirSchemaMemo.put(dir, (sig, out))
    out
  }

  /** S12 — apply the reference's dtype maps (`accounts.py:93-108`,
    * `locations.py:186-188`) as casts immediately before the sink. */
  def applySinkTypes(df: DataFrame, types: Map[String, DataType]): DataFrame =
    types.foldLeft(df) { case (d, (name, t)) =>
      if (d.columns.contains(name)) d.withColumn(name, col(name).cast(t)) else d
    }

  /** S8 — append a batch under a batch-keyed subdirectory: re-running
    * the same batch id overwrites identically (idempotent), giving
    * at-least-once extract / exactly-once apply like the reference's
    * data+watermark transaction. */
  def appendBatch(df: DataFrame, root: String, batchId: Int): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/batch=$batchId")
    ()
  }

  /** S10 — schema evolution on read: new columns appear (NULL-filled
    * for old batches) the way the reference's conditional
    * `ALTER TABLE ADD OldXID` widens the target table. */
  def readEvolved(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(root)

  /** Bucketed managed table: pre-shuffles once at write so every later
    * equi-join/aggregation on `keys` is exchange-free (the cluster
    * analogue of the reference's indexed target tables — pay the
    * shuffle once, reuse per query). Requires `saveAsTable`
    * (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    ()
  }

  /** Hive-style partitioned layout: directory per key value → partition
    * pruning turns key-filtered scans into O(selected partitions). */
  def writePartitioned(df: DataFrame, path: String, keys: Seq[String]): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(keys: _*).parquet(path)
    ()
  }

  /** S11 — dual-output load (fact + Sync mapping side table,
    * `categories.py:125-128`). The mapping rows derive from the SAME
    * in-memory batch, so persist once and write both — a crash between
    * the writes is repaired by idempotent re-run of the batch id. */
  def dualWrite(fact: DataFrame, mapping: DataFrame, factRoot: String,
                mappingRoot: String, batchId: Int): Unit = {
    appendBatch(fact, factRoot, batchId)
    appendBatch(mapping, mappingRoot, batchId)
  }

  /** S11, transactional — [[dualWrite]] plus the reference's
    * one-transaction visibility: both directories land as invisible
    * data, then ONE atomic [[TxnManifest]] commit names them both.
    * Readers going through [[readCommitted]] observe both outputs of a
    * batch or neither, exactly like the reference's `engine.begin()`
    * dual INSERT. */
  def dualWriteAtomic(fact: DataFrame, mapping: DataFrame, factRoot: String,
                      mappingRoot: String, manifest: TxnManifest,
                      batchId: Int): Unit = {
    // both dirs become visible together at the single commit below,
    // so the two independent writes overlap (guide §2.6) — a crash
    // before the commit leaves both invisible exactly as before
    graft.util.Par.both(
      appendBatch(fact, factRoot, batchId),
      appendBatch(mapping, mappingRoot, batchId))
    manifest.commit(batchId,
      Seq(s"$factRoot/batch=$batchId", s"$mappingRoot/batch=$batchId"))
  }

  /** Compaction — the small-files answer ingestion creates: many
    * small batch dirs (each its own parquet footer, each a scan task)
    * re-written as ONE right-sized dir, made visible by a single
    * atomic manifest commit that simultaneously un-names every input
    * dir. Readers through [[readCommitted]] see the old batches or
    * the compacted result, never both, never neither — OPTIMIZE with
    * `_delta_log` semantics on plain parquet. The superseded dirs
    * stay on disk (crash safety: the old manifest may still name
    * them) until [[vacuum]] removes what no manifest names.
    *
    * @param compactId batch id for the compacted output; must not
    *   collide with a live batch id. */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String,
              manifest: TxnManifest, compactId: Int, numFiles: Int,
              physSchema: Option[org.apache.spark.sql.types.StructType] = None)
    : Unit =
    withJobDescription(spark, s"graft: compact $root -> batch=$compactId") {
    val (dirs, dvDirs) = splitDv(manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to compact")
    // deletion vectors MATERIALIZE here: the rewrite reads through
    // them, and replaceAll un-names the _dv entries with the inputs
    val all = applyDv(spark, readDirs(spark, dirs, physSchema), dvDirs)
    val target = s"$root/batch=$compactId"
    require(!dirs.contains(target), s"compactId $compactId is a live batch")
    all.coalesce(numFiles).write.mode(SaveMode.Overwrite).parquet(target)
    // maintenance must not LOSE data-skipping capability: re-stat the
    // compacted files (cheap footer pass) and rebuild any bloom
    // coverage the inputs carried, before they become visible
    BatchStats.writeSidecar(spark, target)
    BloomIndex.carryOver(spark, dirs, target)
    writeNoChangeMarker(spark, root, compactId)
    writeFeedMarker(root, compactId, manifest, dirs.toSet)
    // ONE commit point: all input batches' entries are replaced by the
    // compacted dir — readers flip atomically
    manifest.replaceAll(root, compactId, Seq(target))
  }

  /** Bucket-preserving compaction — [[compact]] for `bucketBy`
    * tables: the rewrite routes through the same bucket function
    * every bucketed write uses, so the compacted batch carries one
    * right-sized file per bucket AND the layout marker — the
    * storage-partitioned-join report survives compaction, and a
    * FOREIGN batch (raw append without the marker) is HEALED back
    * into the bucketed layout by the rewrite.
    *
    * `zorderCols` (OPTIMIZE ZORDER BY on a bucketed table) z-orders
    * WITHIN each bucket: a cross-partition range sort would destroy
    * the routing, but `sortWithinPartitions` on the Morton key moves
    * no row across buckets — each bucket's rows come out clustered,
    * so parquet row-group min/max (and the per-file sidecar bounds,
    * once buckets split across files) prune on the z-columns while
    * SPJ keeps its zero-exchange joins. */
  def compactBucketed(spark: org.apache.spark.sql.SparkSession, root: String,
                      manifest: TxnManifest, compactId: Int,
                      spec: Bucketing.Spec,
                      physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                      zorderCols: Seq[org.apache.spark.sql.Column] = Nil)
    : Unit =
    withJobDescription(spark,
      s"graft: bucketed-compact $root -> batch=$compactId") {
    val (dirs, dvDirs) = splitDv(manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to compact")
    val target = s"$root/batch=$compactId"
    require(!dirs.contains(target), s"compactId $compactId is a live batch")
    val all = applyDv(spark, readDirs(spark, dirs, physSchema), dvDirs)
    val routed = Bucketing.routed(all, spec)
    val out =
      if (zorderCols.isEmpty) routed
      else routed.sortWithinPartitions(Layout.zKeyOf(zorderCols))
    out.write.mode(SaveMode.Overwrite).parquet(target)
    BatchStats.writeSidecar(spark, target)
    BloomIndex.carryOver(spark, dirs, target)
    Bucketing.writeMarkerWithFiles(spark, target, spec)
    writeOptimizedMarker(target, bucketedGenSpec(spec, zorderCols))
    writeNoChangeMarker(spark, root, compactId)
    writeFeedMarker(root, compactId, manifest, dirs.toSet)
    manifest.replaceAll(root, compactId, Seq(target))
  }

  /** The generation tag a bucketed compaction stamps — spec + sort
    * columns, so a re-bucketed or re-clustered table treats every
    * old generation as fresh input. Rides the same `_optimized`
    * marker file the z-order generations use (as pseudo-columns). */
  private def bucketedGenSpec(spec: Bucketing.Spec,
                              zorderCols: Seq[org.apache.spark.sql.Column])
    : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.lit
    lit(s"bucketed:${Bucketing.render(spec)}") +: zorderCols
  }

  /** INCREMENTAL bucketed compaction — [[compactBucketed]] with the
    * O(new data) maintenance contract of
    * [[compactZOrderedIncremental]]: dirs already stamped as a
    * generation of the SAME spec (and same within-bucket sort) are
    * left byte-untouched; everything else — fresh appends, merge
    * rewrites, FOREIGN batches (which it heals into the layout),
    * generations of a different spec — rewrites into one new
    * generation, swapped in by a single atomic commit. At 100 TB a
    * bucketed fact table's nightly OPTIMIZE costs the day's ingest,
    * not the table. Returns false (nothing committed) when no fresh
    * dir exists. DVs on fresh dirs materialize; DV entries stay
    * named for the untouched generations they still cover. */
  def compactBucketedIncremental(spark: org.apache.spark.sql.SparkSession,
                                 root: String, manifest: TxnManifest,
                                 compactId: Int, spec: Bucketing.Spec,
                                 physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                                 zorderCols: Seq[org.apache.spark.sql.Column] = Nil)
    : Boolean =
    withJobDescription(spark,
      s"graft: bucketed-compact (incremental) $root -> batch=$compactId") {
    val (dirs, dvDirs) = splitDv(manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to compact")
    val target = s"$root/batch=$compactId"
    require(!dirs.contains(target), s"compactId $compactId is a live batch")
    val gen = bucketedGenSpec(spec, zorderCols)
    val fresh = dirs.filterNot(d =>
      isOptimizedFor(d, gen) && Bucketing.markerMatches(d, spec))
    if (fresh.isEmpty) false
    else {
      val all = applyDv(spark, readDirs(spark, fresh, physSchema), dvDirs)
      val routed = Bucketing.routed(all, spec)
      val out =
        if (zorderCols.isEmpty) routed
        else routed.sortWithinPartitions(Layout.zKeyOf(zorderCols))
      out.write.mode(SaveMode.Overwrite).parquet(target)
      BatchStats.writeSidecar(spark, target)
      BloomIndex.carryOver(spark, fresh, target)
      Bucketing.writeMarkerWithFiles(spark, target, spec)
      writeOptimizedMarker(target, gen)
      writeNoChangeMarker(spark, root, compactId)
      writeFeedMarker(root, compactId, manifest, fresh.toSet)
      manifest.replaceDirs(fresh.toSet, compactId, Seq(target))
      true
    }
  }

  /** Delta's `dataChange = false`: maintenance rewrites the SAME rows,
    * so the change feed must serve ZERO deltas for its commit — an
    * empty CDF sidecar is exactly that marker. Without it,
    * [[readChanges]] would re-deliver the whole compacted table as
    * inserts to every consumer tailing past the compaction id. */
  private def writeNoChangeMarker(spark: org.apache.spark.sql.SparkSession,
                                  root: String, batchId: Int): Unit = {
    import org.apache.spark.sql.functions.lit
    spark.range(0).select(lit("insert").as(ChangeTypeCol))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/_cdf/batch=$batchId")
  }

  private val ReplacedMarker = "_replaced.tsv"

  /** Feed-consistency marker inside a commit's `_cdf` dir: the
    * manifest batch ids this commit fully UN-NAMED under `root`
    * (their entries collapsed into it — a batch that keeps OTHER dirs
    * under this root is still live and is NOT listed). [[readChanges]]
    * uses it to fail LOUDLY when a consumer's range spans collapsed
    * history — the un-named batches' rows were never delivered to
    * that consumer and live only inside the rewrite, so silently
    * serving the rest of the range would lose them downstream
    * (Delta's "CDF range no longer available" error, here per
    * consumer offset). Written BEFORE the manifest commit; a crash
    * orphan is vacuumable with the rest of the `_cdf` dir. */
  private def writeFeedMarker(root: String, batchId: Int,
                              manifest: TxnManifest,
                              removedDirs: Set[String]): Unit = {
    val replaced = manifest.committed()
      .filter { case (_, ds) =>
        val underRoot = ds.filter(_.startsWith(root + "/"))
        underRoot.nonEmpty && underRoot.forall(removedDirs.contains)
      }.keys.toSeq.sorted
    graft.util.AtomicText.writeAtomically(
      s"$root/_cdf/batch=$batchId/$ReplacedMarker",
      replaced.map(_.toString).mkString("", "\n", "\n"))
  }

  private[sources] def readFeedMarker(conf: org.apache.hadoop.conf.Configuration,
                             root: String, batchId: Int): Option[Seq[Int]] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_cdf/batch=$batchId/$ReplacedMarker")
    if (!p.getFileSystem(conf).exists(p)) None
    else Some(graft.util.AtomicText.readLines(p.toString)
      .flatMap(_.toIntOption))
  }

  /** OPTIMIZE ZORDER BY for the manifest table: compaction that
    * re-CLUSTERS instead of just re-packing. The committed history
    * rewrites z-ordered on (a, b) ([[graft.sources.Layout]] Morton
    * keys — each output file covers a small rectangle of the value
    * space), a [[BatchStats]] sidecar is written over the new files,
    * and ONE `replaceAll` commit flips readers atomically. After this,
    * manifest-level data skipping prunes on EITHER column: the
    * accumulated append-order batches (clustered by arrival time, so
    * only time-correlated predicates pruned) become value-clustered
    * files whose sidecar bounds are tight for both dimensions. Same
    * maintenance contract as [[compact]]: no in-flight writers, stay
    * behind the slowest streaming checkpoint. */
  def compactZOrdered(spark: org.apache.spark.sql.SparkSession, root: String,
                      manifest: TxnManifest, compactId: Int,
                      a: org.apache.spark.sql.Column,
                      b: org.apache.spark.sql.Column, numFiles: Int): Unit =
    compactZOrderedN(spark, root, manifest, compactId, Seq(a, b), numFiles)

  /** OPTIMIZE ZORDER BY (c1, ..., cn) — 2 columns take
    * [[Layout.mortonKey]]'s magic-mask fast path, 3+ interleave via
    * [[Layout.mortonKeyN]]. */
  def compactZOrderedN(spark: org.apache.spark.sql.SparkSession, root: String,
                       manifest: TxnManifest, compactId: Int,
                       cols: Seq[org.apache.spark.sql.Column],
                       numFiles: Int,
                       physSchema: Option[org.apache.spark.sql.types.StructType] = None)
    : Unit =
    withJobDescription(spark, s"graft: zorder-compact $root -> batch=$compactId") {
    val (dirs, dvDirs) = splitDv(manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to compact")
    val target = s"$root/batch=$compactId"
    require(!dirs.contains(target), s"compactId $compactId is a live batch")
    // deletion vectors materialize (as in compact): read through, then
    // the replaceAll commit drops the _dv entries with the inputs
    val all = applyDv(spark, readDirs(spark, dirs, physSchema), dvDirs)
    Layout.writeZOrderedN(all, target, cols, numFiles)
    BatchStats.writeSidecar(spark, target)
    BloomIndex.carryOver(spark, dirs, target)
    writeOptimizedMarker(target, cols)
    writeNoChangeMarker(spark, root, compactId)
    writeFeedMarker(root, compactId, manifest, dirs.toSet)
    manifest.replaceAll(root, compactId, Seq(target))
  }

  /** Generation marker for incremental OPTIMIZE: records the z-order
    * spec the dir was written under. `_`-prefixed, so parquet listings
    * ignore it. */
  private val OptimizedMarker = "_optimized"

  private def writeOptimizedMarker(
      dir: String, cols: Seq[org.apache.spark.sql.Column]): Unit =
    graft.util.AtomicText.writeAtomically(s"$dir/$OptimizedMarker",
      cols.map(_.toString).mkString("", "\n", "\n"))

  private def isOptimizedFor(
      dir: String, cols: Seq[org.apache.spark.sql.Column]): Boolean =
    graft.util.AtomicText.readLines(s"$dir/$OptimizedMarker") ==
      cols.map(_.toString)

  /** INCREMENTAL `OPTIMIZE ZORDER BY` — the 100 TB shape of
    * maintenance. [[compactZOrderedN]] rewrites the WHOLE table every
    * run: O(table) IO for a maintenance pass, unrunnable once the
    * table dwarfs the daily ingest. This variant rewrites ONLY the
    * batches added since the last optimize: dirs carrying an
    * [[OptimizedMarker]] with the same column spec are prior
    * GENERATIONS and are left byte-untouched; everything else (fresh
    * appends, merge outputs, a generation optimized under a different
    * spec) is z-ordered into one new generation and swapped in with a
    * single atomic [[TxnManifest.replaceDirs]] commit. Cost is
    * O(new data), not O(table) — the Delta OPTIMIZE contract.
    *
    * The table converges to a few z-ordered generations, each
    * internally clustered, so per-file min/max pruning holds within
    * every generation; run the full [[compactZOrderedN]] occasionally
    * (or when generations proliferate) to restore one global
    * clustering. Returns false (and commits NOTHING) when no
    * unoptimized batch exists. */
  def compactZOrderedIncremental(spark: org.apache.spark.sql.SparkSession,
                                 root: String, manifest: TxnManifest,
                                 compactId: Int,
                                 cols: Seq[org.apache.spark.sql.Column],
                                 numFiles: Int,
                                 physSchema: Option[org.apache.spark.sql.types.StructType] = None)
    : Boolean =
    withJobDescription(spark,
      s"graft: zorder-optimize (incremental) $root -> batch=$compactId") {
    val (dirs, dvDirs) = splitDv(manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to compact")
    val target = s"$root/batch=$compactId"
    require(!dirs.contains(target), s"compactId $compactId is a live batch")
    val fresh = dirs.filterNot(isOptimizedFor(_, cols))
    if (fresh.isEmpty) false
    else {
      // DVs on FRESH dirs materialize into the new generation; DV
      // entries stay named for the untouched generations they still
      // cover (their fresh-file positions go inert with the rewrite)
      val all = applyDv(spark, readDirs(spark, fresh, physSchema), dvDirs)
      Layout.writeZOrderedN(all, target, cols, numFiles)
      BatchStats.writeSidecar(spark, target)
      BloomIndex.carryOver(spark, fresh, target)
      writeOptimizedMarker(target, cols)
      writeNoChangeMarker(spark, root, compactId)
      writeFeedMarker(root, compactId, manifest, fresh.toSet)
      manifest.replaceDirs(fresh.toSet, compactId, Seq(target))
      true
    }
  }

  /** Spark-UI attribution for multi-job maintenance operations: every
    * job the body launches carries `desc`, restored after. */
  private def withJobDescription[A](spark: org.apache.spark.sql.SparkSession,
                                    desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** INSERT OVERWRITE on the manifest layer: land the frame as one
    * new batch dir, then atomically un-name EVERYTHING under `root`
    * in its favor — readers see the old table or the new one, never
    * a mix, and a crash before the commit leaves the old view. The
    * change feed is marked collapsed (an overwrite retracts rows it
    * never recorded), so a tailing consumer fails loudly instead of
    * silently keeping retracted rows — re-bootstrap from a snapshot,
    * the Delta `overwriteSchema`-replace semantics. */
  def insertOverwrite(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                      root: String, manifest: TxnManifest,
                      batchId: Int,
                      bucketBy: Option[Bucketing.Spec] = None): Unit =
    withJobDescription(spark, s"graft: insert-overwrite $root -> batch=$batchId") {
    val dirs = manifest.committedDirs(root)
    val target = s"$root/batch=$batchId"
    require(!dirs.contains(target), s"batchId $batchId is a live batch")
    val out = bucketBy.fold(df)(b => Bucketing.routed(df, b))
    out.write.mode(SaveMode.Overwrite).parquet(target)
    BatchStats.writeSidecar(spark, target)
    bucketBy.foreach(b => Bucketing.writeMarkerWithFiles(spark, target, b))
    if (dirs.nonEmpty)
      writeFeedMarker(root, batchId, manifest, dirs.toSet)
    manifest.replaceAll(root, batchId, Seq(target))
  }

  // ---------------------------------------------------------------
  // Deletion vectors — merge-on-read deletes (Delta DV shape).
  //
  // Copy-on-write deletes pay O(affected dirs) IO even for one row;
  // at 100 TB with frequent small takedowns that is the dominant
  // cost. A deletion vector instead records the (file, row position)
  // of each deleted row in a tiny sidecar dir committed through the
  // SAME manifest CAS — readers anti-join it at scan, compaction
  // materializes it. The positions come from Spark's own
  // `_metadata.row_index` file-source column, so writing AND applying
  // a DV is a plain distributed join, no custom reader.
  // ---------------------------------------------------------------

  /** DV sidecar dirs live under `<root>/_dv/batch=<id>` and are
    * committed as manifest entries (atomicity + time travel + vacuum
    * for free); every data-reading path splits them out first. */
  private[graft] def isDvDir(dir: String): Boolean = dir.contains("/_dv/")

  private[graft] def splitDv(dirs: Seq[String]): (Seq[String], Seq[String]) =
    dirs.partition(d => !isDvDir(d))

  private[graft] val DvFileCol = "__dv_file"
  private[graft] val DvPosCol = "__dv_pos"

  /** The DV sidecar's fixed schema — passed explicitly so DV reads
    * never pay schema inference (they happen on every read of a
    * DV-carrying table). */
  private[graft] val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType)))

  /** Drop rows a deletion vector names: anti-join on (file path, row
    * index). `df` must be a direct file-scan frame (the `_metadata`
    * column exists only there). The DV side is small by the feature's
    * contract — small deletes — but nothing forces a broadcast: AQE
    * decides, so a pathological giant DV degrades to a shuffle join
    * instead of a driver OOM. */
  private[graft] def applyDv(spark: org.apache.spark.sql.SparkSession,
                             df: DataFrame, dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty) df
    else {
      val dv = spark.read.schema(DvSchema).parquet(dvDirs: _*)
        .select(DvFileCol, DvPosCol)
      df.withColumn(DvFileCol, col("_metadata.file_path"))
        .withColumn(DvPosCol, col("_metadata.row_index"))
        .join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
        .drop(DvFileCol, DvPosCol)
    }

  /** Row-level DELETE without rewriting a byte of data: the
    * merge-on-read answer to [[mergeDelete]]'s copy-on-write, run by
    * [[mergeRows]] in its deletion-vector mode (the matched rows'
    * positions land in `_dv/batch=<mergeId>`; every data dir stays
    * byte-untouched). Trade-off vs COW, same as Delta's: every read
    * pays the anti-join until compaction materializes the vector —
    * right for small frequent deletes, wrong for bulk purges (use
    * [[mergeDelete]]). `unionRoots` is the shallow-clone write path,
    * as for [[merge]]: the vector may name inherited source files and
    * lands under the clone's `root`, so the source never sees it. */
  def mergeDeleteDV(spark: org.apache.spark.sql.SparkSession,
                    deleteKeys: DataFrame, root: String,
                    manifest: TxnManifest, keys: Seq[String],
                    mergeId: Int, cdf: Boolean = false,
                    unionRoots: Boolean = false,
                    physSchema: Option[org.apache.spark.sql.types.StructType] = None)
    : Unit =
    mergeRows(spark, armsOf(None, Some(deleteKeys), keys), writes = false,
      deleteWins = false, root, manifest, keys, mergeId, cdf, unionRoots,
      physSchema, bucketBy = None, deletionVectors = true)

  /** Merge-on-read UPSERT — [[mergeDeleteDV]]'s update sibling: matched
    * rows are vectored and their new versions, with the inserts, land
    * in one appended `batch=<mergeId>` dir, both named by one commit
    * ([[mergeRows]]'s deletion-vector mode). O(changed rows) vs
    * [[mergeUpsert]]'s O(affected dirs), with the same answer
    * (PropertySpec pins it); every read pays the positional
    * anti-filter until compaction — right for frequent small updates,
    * wrong for bulk rewrites. */
  def mergeUpdateDV(spark: org.apache.spark.sql.SparkSession,
                    updates: DataFrame, root: String,
                    manifest: TxnManifest, keys: Seq[String],
                    mergeId: Int, cdf: Boolean = false,
                    unionRoots: Boolean = false,
                    physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                    bucketBy: Option[Bucketing.Spec] = None)
    : Unit =
    mergeRows(spark, armsOf(Some(updates), None, keys), writes = true,
      deleteWins = false, root, manifest, keys, mergeId, cdf, unionRoots,
      physSchema, bucketBy, deletionVectors = true)

  /** Row-level MERGE (upsert) on the manifest layer — Delta
    * `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *` semantics on plain parquet, the write shape behind
    * the reference's watermark MERGE (`accounts.py:131-140`) and Sync
    * upserts (`categories.py:84,128`). See [[merge]] for the engine. */
  def mergeUpsert(spark: org.apache.spark.sql.SparkSession, updates: DataFrame,
                  root: String, manifest: TxnManifest, keys: Seq[String],
                  mergeId: Int, cdf: Boolean = false,
                  unionRoots: Boolean = false,
                  physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                  bucketBy: Option[Bucketing.Spec] = None)
    : Unit =
    merge(spark, Some(updates), None, root, manifest, keys, mergeId, cdf,
      unionRoots, physSchema, bucketBy)

  /** Row-level DELETE — `MERGE ... WHEN MATCHED THEN DELETE` (the
    * opt-out/takedown purge a training corpus needs as a first-class
    * op). `deleteKeys` is a keys-only frame; keys absent from the
    * table are a no-op, matched rows disappear via the same
    * copy-on-write + atomic swap as the upsert arm. */
  def mergeDelete(spark: org.apache.spark.sql.SparkSession,
                  deleteKeys: DataFrame, root: String, manifest: TxnManifest,
                  keys: Seq[String], mergeId: Int, cdf: Boolean = false,
                  unionRoots: Boolean = false,
                  physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                  bucketBy: Option[Bucketing.Spec] = None)
    : Unit =
    merge(spark, None, Some(deleteKeys), root, manifest, keys, mergeId, cdf,
      unionRoots, physSchema, bucketBy)

  /** The MERGE engine: upsert arm, delete arm, or both in one commit
    * (Delta `WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT
    * MATCHED INSERT`), mapped onto [[mergeRows]]: every update row
    * updates its key when it matches and inserts when it does not,
    * every delete key deletes when it matches.
    *
    * Updates must be UNIQUE on `keys`, and the update and delete key
    * sets DISJOINT (one target row matched by both arms is ambiguous —
    * the same loud error Delta raises). Matched rows are replaced
    * WHOLE (UPDATE SET *); new columns in `updates` evolve the schema
    * additively, NULL-filled for kept rows.
    *
    * Edge: a delete arm that removes EVERY row still commits a valid
    * batch dir — Spark writes a zero-row, schema-carrying parquet file
    * for an empty frame, so `readCommitted` serves the (empty) table
    * with its schema intact, and a later insert re-populates it.
    *
    * @param mergeId batch id for the rewritten output; must not
    *   collide with a live batch id.
    * @param unionRoots merge against EVERY dir the manifest names, not
    *   just those under `root` — the SHALLOW-CLONE write path: the
    *   clone's manifest spans the source's root (inherited dirs) and
    *   its own, the rewrite lands under the clone's `root`, and
    *   `replaceDirs` un-names affected SOURCE dirs from the CLONE
    *   manifest only — copy-on-write across roots, source untouched.
    *   Never set on a dual-write manifest (its roots are different
    *   logical tables). */
  def merge(spark: org.apache.spark.sql.SparkSession,
            updates: Option[DataFrame], deletes: Option[DataFrame],
            root: String, manifest: TxnManifest, keys: Seq[String],
            mergeId: Int, cdf: Boolean = false,
            unionRoots: Boolean = false,
            physSchema: Option[org.apache.spark.sql.types.StructType] = None,
            bucketBy: Option[Bucketing.Spec] = None)
    : Unit =
    mergeRows(spark, armsOf(updates, deletes, keys),
      writes = updates.nonEmpty, deleteWins = false, root, manifest, keys,
      mergeId, cdf, unionRoots, physSchema, bucketBy)

  /** An upsert arm and a delete arm as one tagged [[mergeRows]]
    * source: update rows update on a match and insert on a miss,
    * delete keys delete on a match. */
  private def armsOf(updates: Option[DataFrame], deletes: Option[DataFrame],
                     keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(updates.nonEmpty || deletes.nonEmpty,
      "merge needs an upsert arm, a delete arm, or both")
    val ups = updates.map(_.withColumn(OnMatchCol, lit("update"))
      .withColumn(OnMissCol, lit(true)))
    val dels = deletes.map(_.select(keys.map(col) ++
      Seq(lit("delete").as(OnMatchCol), lit(false).as(OnMissCol)): _*))
    (ups ++ dels).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The tags a [[mergeRows]] source row carries: [[OnMatchCol]] is
    * what it does when its key matches a target row — "update"
    * (replace the row whole), "delete", or null (nothing) — and
    * [[OnMissCol]] whether it inserts when its key matches none. */
  private[graft] val OnMatchCol = "__on_match"
  private[graft] val OnMissCol = "__on_miss"

  /** The two-pass MERGE core (Delta's find-touched-files-then-write
    * shape) at batch-dir granularity, for copy-on-write and for
    * merge-on-read (`deletionVectors`): pass 1 is shared, only pass 2's
    * write differs.
    *
    *   1. PRUNE — a batch-sized source (at most [[BloomProbeMaxKeys]]
    *      rows) is collected once and continues as a local relation,
    *      its keys' per-column [min, max] folded on the driver; a bulk
    *      source stays pinned and folds its range in one small job.
    *      Dirs whose [[BatchStats]] sidecars exclude the range (or
    *      whose bloom sidecars reject every key of a batch-sized
    *      source) are never scanned, and the range prunes row groups
    *      inside the rest;
    *   2. PASS 1 — one scan of the surviving, range-filtered candidate
    *      dirs, less the rows an earlier deletion vector deleted,
    *      semi-joined with the source keys (no forced broadcast — AQE
    *      broadcasts a batch-sized key set at runtime and degrades a
    *      bulk backfill to a shuffle join instead of a driver OOM).
    *      The matched target rows, with their file (and, for a
    *      deletion vector, their row position), and the source rows
    *      are grouped by key once: that decides every row's action,
    *      the touched files, the duplicate and ambiguity checks, and
    *      the change feed's pre-images and deletes, all from one small
    *      persisted frame;
    *   3. PASS 2 — the write, in one of two modes.
    *      Copy-on-write rewrites, the only other read of the target:
    *      the touched dirs' rows anti-joined on the updated and
    *      deleted keys, ∪ update and insert rows, written as ONE new
    *      `batch=<mergeId>` dir, then one atomic
    *      [[TxnManifest.replaceDirs]] commit swaps exactly the touched
    *      entries for it.
    *      Merge-on-read reads and moves no target byte again: the
    *      touched rows' (file, position) pairs are written to
    *      `_dv/batch=<mergeId>` and, when `writes`, the update and
    *      insert rows to a new `batch=<mergeId>` dir; one
    *      [[TxnManifest.commit]] names both beside the live entries,
    *      so readers flip from old versions to new atomically. Reads
    *      apply the vector until a compaction materializes it.
    *
    * Either way, with `cdf = true` the `_cdf/batch=<mergeId>` sidecar
    * (`_change_type` ∈ {update_preimage, update_postimage, insert,
    * delete}) is written beside the data from pass 1's frame alone. A
    * crash before the commit leaves the old view; orphan data, `_dv`
    * and `_cdf` dirs are vacuumable.
    *
    * A row's action: a matched key any of whose rows says "delete" is
    * deleted and none of its rows updates; otherwise a matched row
    * does its [[OnMatchCol]] and an unmatched row inserts when
    * [[OnMissCol]] holds. Updates and inserts must then be unique per
    * key; with `deleteWins = false` a key carrying both an "update"
    * and a "delete" row fails loudly as ambiguous, matched or not.
    *
    * @param source rows with the key columns, the payload an update or
    *   insert writes, and the two tag columns.
    * @param writes whether any row may update or insert — false for a
    *   keys-only delete source, whose columns then never reach the
    *   rewrite or the feed.
    * @param validate called on the rows the merge will update or
    *   insert, before anything is written (CHECK constraints).
    * @param deletionVectors merge-on-read: pass 2 writes a deletion
    *   vector instead of rewriting the touched dirs. */
  private[graft] def mergeRows(spark: org.apache.spark.sql.SparkSession,
                               source: DataFrame, writes: Boolean,
                               deleteWins: Boolean, root: String,
                               manifest: TxnManifest, keys: Seq[String],
                               mergeId: Int, cdf: Boolean,
                               unionRoots: Boolean,
                               physSchema: Option[org.apache.spark.sql.types.StructType],
                               bucketBy: Option[Bucketing.Spec],
                               validate: DataFrame => Unit = _ => (),
                               deletionVectors: Boolean = false)
    : Unit =
    withJobDescription(spark, s"graft: merge $root -> batch=$mergeId") {
    import org.apache.spark.sql.functions.{lit, max, struct, sum, when}
    import scala.jdk.CollectionConverters._
    val (dirs, dvDirs) = splitDv(
      if (unionRoots) manifest.committedDirsAll()
      else manifest.committedDirs(root))
    require(dirs.nonEmpty, s"nothing committed under $root to merge into")
    val target = s"$root/batch=$mergeId"
    require(!dirs.contains(target), s"mergeId $mergeId is a live batch")
    // a deletion vector commits BESIDE the live entries, so its id must
    // name none of them
    require(!deletionVectors || !manifest.committed().contains(mergeId),
      s"mergeId $mergeId is a live batch id")
    val keyCols = keys.map(col)
    // what pass 2 needs of a matched row: copy-on-write its file, a
    // deletion vector its (file, position)
    val posCols = if (deletionVectors) Seq(DvFileCol, DvPosCol) else Seq(DvFileCol)
    val isUpd = col(OnMatchCol) === "update"
    val isDel = col(OnMatchCol) === "delete"

    // the source may be a non-trivial plan (CDC joins, an MV's delta
    // fold) read by the pruning job and by pass 1, and pass 1's frame
    // by every branch after it, so both are pinned — MEMORY_AND_DISK,
    // since "batch-sized" is a contract, not a guarantee
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val live = pin(source.where(isUpd || isDel || col(OnMissCol)))
    try {
    // a batch-sized source comes to the driver once, and every later
    // query plans over a local relation of its rows instead of the
    // caller's plan, so pass 1, the rewrite and the feed neither
    // re-analyse nor re-run it; the rows also give the key range and
    // the bloom keys. A bulk source stays pinned and folds its key
    // range in a job. A local relation scans as one partition per
    // core; one partition keeps each query's source side (the key
    // broadcast, the window's input) at one task
    val small = smallRows(live)
    val src = small.fold(live)(rows =>
      spark.createDataFrame(rows.asJava, live.schema).coalesce(1))
    val keyIdx = keys.map(k =>
      live.schema.fieldNames.indexWhere(spark.sessionState.conf.resolver(_, k)))
    val keyRows = small.map(_.map(r => org.apache.spark.sql.Row.fromSeq(keyIdx.map(r.get))))
    val range = keyRows.fold(keyRange(src, keys))(
      keyRange(_, keyIdx.map(live.schema(_).dataType)))
    val srcKeys = src.select(keyCols: _*)
    val candidates = bloomCandidateDirs(spark,
      statsCandidateDirs(spark, dirs, range, keys), keyRows, keys)

    // PASS 1: the matched target rows, each with its file. When no dir
    // can match, the table's empty frame stands in (schema anchor: a
    // pure insert with new columns evolves the table) — a def, since
    // building it reads every dir's footer schema
    def currentAll = applyDv(spark, readDirs(spark, dirs, physSchema), dvDirs)
    val matched =
      if (candidates.isEmpty)
        currentAll.limit(0).withColumn(DvFileCol, lit(null).cast("string"))
          .withColumn(DvPosCol, lit(null).cast("long"))
      else {
        val scanned = livePositions(spark,
          inRange(readDirs(spark, candidates, physSchema), range, keys), dvDirs)
        matchedRows(if (deletionVectors) scanned else scanned.drop(DvPosCol),
          srcKeys, keys)
      }
    // source rows and matched target rows side by side, grouped by
    // key: each side's own columns ride in a struct, so neither side's
    // types bend to the other's
    val tgtCols = matched.columns.filterNot(Set(DvFileCol, DvPosCol)).toSeq
    val srcCols = src.columns.filterNot(Set(OnMatchCol, OnMissCol)).toSeq
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)
    def anyOf(c: org.apache.spark.sql.Column) =
      max(when(c, true).otherwise(false)).over(byKey)
    def countOf(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L)).over(byKey)
    val (isSrc, hit, del) =
      (col("__src").isNotNull, anyOf(col("__tgt").isNotNull), anyOf(isDel))
    val allKeysSet = keyCols.map(_.isNotNull).reduce(_ && _)
    val frame = pin(src
      .select(keyCols ++ Seq(col(OnMatchCol), col(OnMissCol),
        struct(srcCols.map(col): _*).as("__src")): _*)
      .unionByName(matched.select(keyCols ++ posCols.map(col) :+
        struct(tgtCols.map(col): _*).as("__tgt"): _*),
        allowMissingColumns = true)
      .select(col("*"),
        // a source row's action; a target row's is its key's
        when(isSrc && hit && del, when(isDel, lit("delete")))
          .when(isSrc && hit, col(OnMatchCol))
          .when(isSrc, when(col(OnMissCol), lit("insert")))
          .when(del, lit("delete"))
          .when(anyOf(isUpd), lit("update")).as("__act"),
        // updates (of a matched key nothing deletes) or inserts (of an
        // unmatched key) must be unique per key
        ((hit && !del && countOf(isUpd) > 1L) ||
          (!hit && countOf(col(OnMissCol)) > 1L)).as("__dup"),
        (!lit(deleteWins) && allKeysSet && anyOf(isUpd) && anyOf(isDel))
          .as("__both"))
      .where(col("__act").isNotNull || col("__dup") || col("__both")))
    val act = col("__act")
    val touched = frame.where(!isSrc && act.isNotNull)
    def rowsOf(a: String) = frame.where(isSrc && act === a).select("__src.*")
    val updated = rowsOf("update")
    val inserted = rowsOf("insert")

    // input file paths are URIs (file:///…); manifest dirs are plain
    // paths — normalize both sides before the prefix match. The same
    // collect returns any key failing the checks; rows dedupe within
    // each partition, so at most a partition's worth of distinct files
    // reaches the driver, with no shuffle
    def pathOf(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val found = frame.where((!isSrc && act.isNotNull) || col("__dup") || col("__both"))
      .select(col(DvFileCol), col("__dup"), col("__both"),
        when(col("__dup") || col("__both"), struct(keyCols: _*)).as("__key"))
      .rdd.mapPartitions(_.distinct).collect().distinct
    found.find(_.getBoolean(2)).foreach { r =>
      throw new IllegalArgumentException(
        s"key matched by BOTH the update and delete arm (ambiguous): ${r.get(3)}")
    }
    found.find(_.getBoolean(1)).foreach { r =>
      throw new IllegalArgumentException(
        s"updates are not unique on (${keys.mkString(", ")}): e.g. ${r.get(3)}")
    }
    val files = found.flatMap(r => Option(r.getString(0))).map(pathOf)
    val affectedDirs =
      candidates.filter(d => files.exists(_.startsWith(pathOf(d) + "/")))
    if (writes) validate(updated.unionByName(inserted))

    // PASS 2, copy-on-write: the touched dirs less the replaced and
    // deleted keys, ∪ the new rows. The table's current dirs anchor
    // the schema (a pure delete keeps it; new update columns evolve
    // it). Merge-on-read writes the new rows alone: the touched rows
    // stay where they are and the vector hides them
    val news = updated.unionByName(inserted)
    val merged0 =
      if (deletionVectors) news
      else {
        val affected =
          if (affectedDirs.isEmpty) currentAll.limit(0)
          else applyDv(spark, readDirs(spark, affectedDirs, physSchema), dvDirs)
        val kept = affected.join(touched.select(keyCols: _*), keys, "left_anti")
        if (!writes) kept else kept.unionByName(news, allowMissingColumns = true)
      }
    // bucketed tables: the new batch routes through the same
    // repartition every bucketed write uses (+ the layout marker
    // below), so it joins exchange-free like any other batch — neither
    // write mode breaks the layout
    val merged = bucketBy.fold(merged0)(b => Bucketing.routed(merged0, b))
    // the dirs this commit un-names: the rewritten ones, or none for a
    // deletion vector, which only adds entries
    val removed = if (deletionVectors) Nil else affectedDirs
    val dvTarget = s"$root/_dv/batch=$mergeId"
    // the CDF sidecar reads ONLY pass 1's frame — nothing it touches
    // depends on the target write, and both dirs become visible
    // together at the manifest commit below, so the two writes overlap;
    // the feed marker lands in the sidecar dir after it
    def writeCdf(): Unit = if (cdf) {
      val images = touched.select(col("__tgt.*"),
        when(act === "update", lit("update_preimage")).otherwise(lit("delete"))
          .as(ChangeTypeCol))
      val newImages =
        if (!writes) Nil
        else Seq(updated.withColumn(ChangeTypeCol, lit("update_postimage")),
          inserted.withColumn(ChangeTypeCol, lit("insert")))
      (images +: newImages).reduce(_.unionByName(_, allowMissingColumns = true))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/_cdf/batch=$mergeId")
    }
    graft.util.Par.both({
        writeCdf()
        // the marker goes in even WITHOUT cdf when rows were MATCHED:
        // the feed must know this commit changed history (and carries
        // no change records) rather than misread the new batch as an
        // insert batch. A cdf=false merge that matched NOTHING is a
        // pure insert — its target dir served as inserts is exactly
        // right, so no marker (and no spurious feed failure)
        if (cdf || affectedDirs.nonEmpty)
          writeFeedMarker(root, mergeId, manifest, removed.toSet)
      }, {
        if (deletionVectors)
          touched.select(DvFileCol, DvPosCol)
            .write.mode(SaveMode.Overwrite).parquet(dvTarget)
        if (!deletionVectors || writes) {
          merged.write.mode(SaveMode.Overwrite).parquet(target)
          // rewritten dirs may have carried stats sidecars — the merge
          // output keeps the table skippable (cheap footer pass), and
          // any bloom coverage the rewritten dirs carried is rebuilt
          // with it
          BatchStats.writeSidecar(spark, target)
          BloomIndex.carryOver(spark, removed, target)
          bucketBy.foreach(b => Bucketing.writeMarkerWithFiles(spark, target, b))
        }
      })
    // a delete matching nothing still commits (an empty rewrite dir or
    // an empty vector), so the batch id exists and a re-run is
    // idempotent
    if (deletionVectors)
      manifest.commit(mergeId, dvTarget +: Seq(target).filter(_ => writes))
    else manifest.replaceDirs(removed.toSet, mergeId, Seq(target))
    } finally {
      pinned.foreach(_.unpersist())
      ()
    }
  }

  /** RETENTION fast path for `DELETE WHERE <predicate>` — the O(1)
    * aged-slice drop `PARTITIONED BY` tables get for free, recovered
    * from stats sidecars: when every committed dir is PROVABLY either
    * fully covered by the predicate ([[BatchStats.mustMatch]] on
    * every file — all rows match, the whole dir can be un-named) or
    * provably untouched ([[BatchStats.mayMatch]] false — no row
    * matches), the delete commits as ONE metadata swap: covered dirs
    * un-named, a schema-carrying EMPTY batch named in their place,
    * ZERO data files read or written. Any dir the sidecars cannot
    * decide (mixed coverage, missing stats, an untranslatable
    * predicate) returns false untouched — the row-level delete takes
    * over. Classic shape: date-aligned batches (daily ingest, or a
    * clusterBy-date OPTIMIZE) + `DELETE WHERE d < cutoff`.
    *
    * Caller contract: cdf tables fall back (the feed needs row-level
    * deltas); the collapse marker still poisons a lagging feed
    * consumer loudly, same as any cdf-less rewrite. Filters carry
    * PHYSICAL names on mapped tables (the sidecars' namespace). */
  def retentionDelete(spark: org.apache.spark.sql.SparkSession, root: String,
                      manifest: TxnManifest, mergeId: Int,
                      filters: Seq[org.apache.spark.sql.sources.Filter],
                      physSchema: Option[org.apache.spark.sql.types.StructType] = None,
                      bucketBy: Option[Bucketing.Spec] = None): Boolean = {
    if (filters.isEmpty) return false
    val (dataDirs, _) = splitDv(manifest.committedDirs(root))
    if (dataDirs.isEmpty) return false
    require(!manifest.committed().contains(mergeId),
      s"mergeId $mergeId is a live batch id")
    val conf = spark.sparkContext.hadoopConfiguration
    val covered = Seq.newBuilder[String]
    for (dir <- dataDirs) {
      BatchStats.read(conf, dir) match {
        case None => return false // no sidecar: cannot decide
        case Some(stats) if stats.isEmpty => () // empty dir: untouched
        case Some(stats) =>
          if (stats.values.forall(fs =>
              filters.forall(BatchStats.mustMatch(fs, _))))
            covered += dir
          else if (!stats.values.forall(fs =>
              !BatchStats.mayMatch(fs, filters)))
            return false // mixed / undecidable: row-level path
      }
    }
    val coveredDirs = covered.result()
    // the predicate provably matches NOTHING: the delete is complete
    // without a commit — a junk empty batch per no-op DELETE would
    // grow the manifest for free
    if (coveredDirs.isEmpty) return true
    withJobDescription(spark,
      s"graft: retention-delete $root -> batch=$mergeId") {
      val target = s"$root/batch=$mergeId"
      // schema-carrying EMPTY batch: limit(0) folds to an empty
      // local relation, so the write reads no data file — and a
      // delete that dropped EVERY dir still serves the schema
      readDirs(spark, Seq(dataDirs.head), physSchema).limit(0)
        .write.mode(SaveMode.Overwrite).parquet(target)
      BatchStats.writeSidecar(spark, target)
      bucketBy.foreach(b => Bucketing.writeMarker(target, b))
      if (coveredDirs.nonEmpty)
        writeFeedMarker(root, mergeId, manifest, coveredDirs.toSet)
      manifest.replaceDirs(coveredDirs.toSet, mergeId, Seq(target))
    }
    true
  }

  /** Change-type column the CDF sidecar carries (Delta's name). */
  val ChangeTypeCol = "_change_type"

  /** The target rows whose key some `matchKeys` row carries. */
  private def matchedRows(target: DataFrame, matchKeys: DataFrame,
                          keys: Seq[String]): DataFrame =
    target.join(matchKeys, keys, "left_semi")

  /** `scan` limited to a key range's per-column [min, max] (the
    * predicate pushes to parquet's row-group stats); unlimited for
    * None. */
  private def inRange(scan: DataFrame, range: Option[org.apache.spark.sql.Row],
                      keys: Seq[String]): DataFrame =
    range.fold(scan) { r =>
      import org.apache.spark.sql.functions.lit
      scan.where(keys.zipWithIndex.map { case (k, i) =>
        col(k) >= lit(r.get(2 * i)) && col(k) <= lit(r.get(2 * i + 1))
      }.reduce(_ && _))
    }

  /** `scan` (a direct file scan: `_metadata` exists only there) with
    * each row's file in [[DvFileCol]] and position in [[DvPosCol]],
    * less the rows an earlier deletion vector in `dvDirs` deleted. */
  private def livePositions(spark: org.apache.spark.sql.SparkSession,
                            scan: DataFrame, dvDirs: Seq[String]): DataFrame = {
    val withPos = scan
      .withColumn(DvFileCol, col("_metadata.file_path"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    if (dvDirs.isEmpty) withPos
    else withPos.join(
      spark.read.schema(DvSchema).parquet(dvDirs: _*).select(DvFileCol, DvPosCol),
      Seq(DvFileCol, DvPosCol), "left_anti")
  }

  /** The keys' per-column [min, max] as one tiny agg job; None when
    * the key set is empty or carries only nulls (no pruning). */
  private[graft] def keyRange(matchKeys: DataFrame, keys: Seq[String])
    : Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{max, min}
    val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
    val range = matchKeys.agg(aggs.head, aggs.tail: _*).collect().head
    if (range.anyNull) None else Some(range)
  }

  /** [[keyRange]] of key rows already on the driver (one value per key
    * column, of the given types), with no job: each column's bounds
    * are its non-null values' min and max under Spark's ordering for
    * the type — the `min`/`max` aggregates' order (strings compare as
    * UTF-8 bytes, not as Java `String`s). */
  private[graft] def keyRange(keyRows: Seq[org.apache.spark.sql.Row],
                              types: Seq[DataType]): Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.TypeUtils
    val bounds = types.zipWithIndex.flatMap { case (t, i) =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
      val byValue = Ordering.by[(Any, Any), Any](_._2)(TypeUtils.getInterpretedOrdering(t))
      val vs = keyRows.flatMap(r => Option(r.get(i)).map(v => (v, toCatalyst(v))))
      Option.when(vs.nonEmpty)(Seq(vs.min(byValue)._1, vs.max(byValue)._1))
    }
    Option.when(bounds.size == types.size)(org.apache.spark.sql.Row.fromSeq(bounds.flatten))
  }

  /** All of `df`'s rows when there are at most [[BloomProbeMaxKeys]]
    * (one `limit(n+1)` pass); None for a bulk frame, which must never
    * be collected. */
  private[graft] def smallRows(df: DataFrame): Option[Seq[org.apache.spark.sql.Row]] = {
    val rows = df.limit(BloomProbeMaxKeys + 1).collect()
    Option.when(rows.length <= BloomProbeMaxKeys)(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
  }

  /** Committed dirs that MAY contain one of the matched keys —
    * per-file sidecar bounds checked against the keys' [min, max]
    * range for every key column; a dir prunes only when EVERY file's
    * bounds provably exclude the whole range (missing sidecar or
    * non-prunable key type ⇒ candidate). */
  private[graft] def statsCandidateDirs(spark: org.apache.spark.sql.SparkSession,
                                 dirs: Seq[String],
                                 range: Option[org.apache.spark.sql.Row],
                                 keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val r = range.getOrElse(return dirs) // no keys, or null keys: no pruning
    val filters = keys.zipWithIndex.flatMap { case (k, i) =>
      Seq(GreaterThanOrEqual(k, r.get(2 * i)),
        LessThanOrEqual(k, r.get(2 * i + 1)))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.filter { dir =>
      BatchStats.read(conf, dir) match {
        case None => true // no sidecar: must probe
        case Some(stats) =>
          stats.isEmpty || stats.values.exists(BatchStats.mayMatch(_, filters))
      }
    }
  }

  /** Above this many source rows (or matched keys) a merge keeps its
    * pinned source and its probe stays range-based: the local source
    * and bloom membership need the rows ON THE DRIVER, and a bulk
    * backfill's rows must never be collected. */
  private[graft] val BloomProbeMaxKeys = 10000

  /** Bloom refinement of the merge probe — the TAKEDOWN shape: a
    * small key set (opt-out purge, point repair) over uniform ids
    * gets nothing from range pruning (every dir's `[min, max]` spans
    * every key), but a dir whose per-file blooms reject every key
    * provably contains no match and is dropped before the scan.
    * Applies only when the key set is small enough to collect
    * (`keyRows` holds the key rows, one value per key column — see
    * [[smallRows]] — or None for a bulk key set; it is evaluated only
    * when some dir has bloom coverage) and only to dirs whose sidecar
    * indexes EVERY key column; dirs without bloom coverage always
    * stay candidates. A key row survives a file only when EVERY key
    * column may contain its value (per-row conjunction — multi-key
    * merges never cross-match one row's first component with
    * another's second); the dir stays a candidate when any file
    * admits any row. */
  private[graft] def bloomCandidateDirs(spark: org.apache.spark.sql.SparkSession,
                                        dirs: Seq[String],
                                        keyRows: => Option[Seq[org.apache.spark.sql.Row]],
                                        keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.sources.EqualTo
    if (dirs.isEmpty) return dirs
    val conf = spark.sparkContext.hadoopConfiguration
    val covered = dirs.filter(d =>
      keys.toSet.subsetOf(BloomIndex.indexedColumns(conf, d)))
    if (covered.isEmpty) return dirs
    val sample = keyRows.getOrElse(return dirs) // bulk: range-only
    dirs.filter { d =>
      !covered.contains(d) || (BloomIndex.read(conf, d) match {
        case None => true // torn sidecar: must probe
        case Some(files) => files.isEmpty || files.values.exists(fb =>
          sample.exists(row => keys.zipWithIndex.forall { case (k, i) =>
            BloomIndex.mayMatch(fb, Seq(EqualTo(k, row.get(i))))
          }))
      })
    }
  }

  /** Change data feed between two manifest versions: every change a
    * consumer must apply to go from `fromBatch` (exclusive) to
    * `toBatch` (inclusive), with [[ChangeTypeCol]] and
    * `_commit_batch`. A MERGE batch serves its `_cdf` sidecar
    * (pre/post images, inserts, deletes); a plain append batch serves
    * its rows as inserts (the Delta CDF rule — append commits need no
    * sidecar); a MAINTENANCE batch (compact/zorder) carries an empty
    * marker sidecar and serves zero deltas (`dataChange = false`).
    * Consumers tailing FORWARD therefore survive maintenance; only
    * replaying history from before a compaction is collapsed, same as
    * Delta CDF past its VACUUM horizon. */
  def readChanges(spark: org.apache.spark.sql.SparkSession, root: String,
                  manifest: TxnManifest, fromBatch: Int, toBatch: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val conf = spark.sparkContext.hadoopConfiguration
    val byBatch = manifest.committed().toSeq
      .filter { case (id, ds) =>
        id > fromBatch && id <= toBatch && ds.exists(_.startsWith(root + "/")) }
      .sortBy(_._1)
    require(byBatch.nonEmpty,
      s"no commits under $root in batch range ($fromBatch, $toBatch]")
    def sidecarState(id: Int): (Boolean, Boolean) = { // (dirExists, hasDeltas)
      val cdfDir = new org.apache.hadoop.fs.Path(s"$root/_cdf/batch=$id")
      val fs = cdfDir.getFileSystem(conf)
      val exists = fs.exists(cdfDir)
      val deltas = exists && fs.listStatus(cdfDir).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      (exists, deltas)
    }
    val served = scala.collection.mutable.Set.empty[Int]
    val frameList = Seq.newBuilder[DataFrame]
    // feed-consistency gate: a rewrite that UN-NAMED undrained batches
    // does not poison the feed — a collapsed MERGE serves its deltas
    // from the on-disk `_cdf` sidecar, and a collapsed APPEND serves
    // its commit-time dirs recovered from the claim tombstones
    // (rewrites un-name from the CURRENT state only; VACUUM is the
    // one loud hazard). Only a collapsed cdf=false merge or a batch
    // with no claims/dirs left refuses. Collapsed merges' own markers
    // are honored transitively.
    def handleMarker(id: Int): Unit =
      readFeedMarker(conf, root, id).foreach { replaced =>
        replaced.filter(l => l > fromBatch && !served(l)).foreach { lostId =>
          served += lostId
          val (dirExists, hasDeltas) = sidecarState(lostId)
          if (hasDeltas) {
            handleMarker(lostId)
            frameList += spark.read.parquet(s"$root/_cdf/batch=$lostId")
              .withColumn("_commit_batch", lit(lostId))
          } else if (dirExists)
            throw new IllegalStateException(
              s"change feed under $root: batch $lostId (collapsed by " +
                s"batch $id) is a merge committed without change " +
                "tracking (cdf = false) — its updates and deletes were " +
                "never recorded. Re-bootstrap from a snapshot, or run " +
                "merges with cdf = true on fed tables.")
          else {
            val dirs = manifest.lastKnownDirs(lostId).getOrElse(
              throw new IllegalStateException(
                s"change feed under $root: batch $id collapsed batch " +
                  s"$lostId committed AFTER offset $fromBatch, and no " +
                  "claim tombstone records its directories — its rows " +
                  "exist only inside the rewrite. Re-bootstrap from a " +
                  "readCommitted snapshot (ManifestConsumer.bootstrap), " +
                  "then tail."))
              .filter(d => d.startsWith(root + "/") && !isDvDir(d))
            dirs.foreach { d =>
              val p = new org.apache.hadoop.fs.Path(d)
              if (!p.getFileSystem(conf).exists(p))
                throw new IllegalStateException(
                  s"change feed under $root: collapsed batch $lostId's " +
                    s"directory $d is no longer on disk (vacuumed) — " +
                    "the feed history this consumer needs is gone. " +
                    "Re-bootstrap from a readCommitted snapshot " +
                    "(ManifestConsumer.bootstrap), then tail.")
            }
            if (dirs.nonEmpty)
              frameList += spark.read.option("mergeSchema", true)
                .parquet(dirs: _*)
                .withColumn(ChangeTypeCol, lit("insert"))
                .withColumn("_commit_batch", lit(lostId))
          }
        }
      }
    byBatch.foreach { case (id, ds) =>
      if (!served(id)) {
        served += id
        handleMarker(id)
        val (dirExists, hasDeltas) = sidecarState(id)
        val df =
          // zero-row delta files read fine (Spark writes a schema-
          // carrying file for an empty frame): a merge whose deletes
          // matched nothing serves zero deltas, not a crash
          if (hasDeltas) Some(spark.read.parquet(s"$root/_cdf/batch=$id"))
          else if (dirExists)
            // marker-only dir: a MERGE committed with cdf = false — it
            // changed rows but recorded no deltas, so the feed cannot
            // serve this range truthfully
            throw new IllegalStateException(
              s"change feed under $root: batch $id is a merge committed " +
                "without change tracking (cdf = false) — its updates and " +
                "deletes were not recorded. Re-bootstrap from a snapshot, " +
                "or run merges with cdf = true on fed tables.")
          else {
            // a DV-only batch (nothing-matched delete: no marker, no
            // deltas) serves zero change rows — its sidecar is not data
            val data = ds.filter(d => d.startsWith(root + "/") && !isDvDir(d))
            if (data.isEmpty) None
            else Some(spark.read.option("mergeSchema", true).parquet(data: _*)
              .withColumn(ChangeTypeCol, lit("insert")))
          }
        df.foreach(f => frameList += f.withColumn("_commit_batch", lit(id)))
      }
    }
    val frames = frameList.result()
    if (frames.isEmpty)
      // every batch in range was a no-op (e.g. nothing-matched DV
      // deletes): zero change rows, schema from the table itself
      readCommitted(spark, root, manifest).limit(0)
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn("_commit_batch", lit(0))
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Remove `batch=N` directories under `root` that NO manifest entry
    * names — crash orphans and compacted-away inputs. Deliberately
    * restricted to the batch-dir layout so a mis-pointed root cannot
    * delete arbitrary data. Returns the deleted directory names.
    *
    * `graceMillis` is the Delta-VACUUM-style retention check: a
    * directory modified within the grace window is skipped, because a
    * concurrent producer sits in exactly that state between
    * `appendBatch` (data landed) and `manifest.commit` (dir named) —
    * vacuuming inside that window would let the producer commit a
    * pointer to a deleted directory. Pass 0 only when no writer can be
    * in flight (tests, exclusive maintenance). */
  def vacuum(root: String, manifest: TxnManifest,
             graceMillis: Long = 24L * 3600 * 1000,
             dryRun: Boolean = false): Seq[String] = {
    import org.apache.hadoop.fs.{FileContext, Path}
    val live = manifest.committedDirs(root).toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val rootPath = new Path(root)
    val fc =
      if (rootPath.toUri.getScheme == null)
        FileContext.getFileContext(spark2HadoopConf)
      else FileContext.getFileContext(rootPath.toUri, spark2HadoopConf)
    if (!fc.util().exists(rootPath)) return Nil
    val candidates = fc.util().listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filterNot(st => live.contains(s"$root/${st.getPath.getName}"))
      .filter(_.getModificationTime <= cutoff)
    if (!dryRun)
      candidates.foreach(st => fc.delete(st.getPath, /* recursive = */ true))
    // change-feed sidecars follow their merge batch's lifecycle: a
    // `_cdf/batch=N` whose id no manifest entry names is a crash
    // orphan (the merge died before its replaceDirs commit)
    val liveIds = manifest.committed()
      .filter(_._2.exists(_.startsWith(root + "/"))).keySet
    val cdfPath = new Path(s"$root/_cdf")
    val cdfOrphans =
      if (!fc.util().exists(cdfPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fc.util().listStatus(cdfPath)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .filterNot(st => st.getPath.getName.stripPrefix("batch=").toIntOption
          .exists(liveIds.contains))
        .filter(_.getModificationTime <= cutoff)
    if (!dryRun) cdfOrphans.foreach(st => fc.delete(st.getPath, true))
    // deletion-vector sidecars are themselves manifest entries, so a
    // LIVE DV is protected by the `live` set; a `_dv/batch=N` no
    // entry names is a crash orphan (DV written, commit lost) or a
    // compacted-away vector — same lifecycle as the data dirs
    val dvPath = new Path(s"$root/_dv")
    val dvOrphans =
      if (!fc.util().exists(dvPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fc.util().listStatus(dvPath)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .filterNot(st => live.contains(s"$root/_dv/${st.getPath.getName}"))
        .filter(_.getModificationTime <= cutoff)
    if (!dryRun) dvOrphans.foreach(st => fc.delete(st.getPath, true))
    (candidates.map(_.getPath.getName) ++
      cdfOrphans.map(st => s"_cdf/${st.getPath.getName}") ++
      dvOrphans.map(st => s"_dv/${st.getPath.getName}")).toSeq
  }

  /** One row per committed batch dir — Delta `DESCRIBE DETAIL` at
    * batch granularity: file/byte counts from a driver-side listing
    * (metadata-scale, no Spark job) plus which sidecar surfaces cover
    * the dir (value/null stats, bloom columns). The operational
    * question this answers on a big table: "is the thing I filter on
    * actually indexed, and which batches aren't?" */
  def describeDetail(spark: org.apache.spark.sql.SparkSession, root: String,
                     manifest: TxnManifest,
                     allRoots: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val version = manifest.version()
    val rows = manifest.committed().toSeq.sortBy(_._1).flatMap {
      // a SHALLOW CLONE's view spans inherited source roots — its
      // detail must report them too, or file/byte totals silently
      // drop everything the clone inherits (allRoots = the clone's
      // union view; plain tables filter to their own root)
      case (id, dirs) => dirs
        .filter(d => allRoots || d.startsWith(root + "/")).map { d =>
        val p = new Path(d)
        val fs = p.getFileSystem(conf)
        val files =
          if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
          else fs.listStatus(p).filter { st =>
            val n = st.getPath.getName
            st.isFile && n.endsWith(".parquet") &&
              !n.startsWith(".") && !n.startsWith("_")
          }
        val stats = BatchStats.read(conf, d)
        (id, d, version, files.length.toLong, files.map(_.getLen).sum,
          stats.exists(_.values.exists(_.bounds.nonEmpty)),
          stats.exists(_.values.exists(_.nulls.nonEmpty)),
          BloomIndex.indexedColumns(conf, d).toSeq.sorted,
          isDvDir(d))
      }
    }
    rows.toDF("batch_id", "dir", "table_version", "num_files", "size_bytes",
      "has_value_stats", "has_null_stats", "bloom_columns", "is_dv")
  }

  /** Active session's Hadoop conf when one exists; defaults otherwise
    * (same resolution as [[graft.util.AtomicText]]). */
  private def spark2HadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Manifest-resolved read: only directories the manifest has
    * committed are scanned, so orphan dirs from a crashed batch are
    * invisible. Fails loudly when nothing is committed under `root` —
    * there is no schema to guess an empty frame from (Delta has its
    * log's schema; a fresh manifest has nothing).
    *
    * S10 on the transactional path: `mergeSchema` unions the batch
    * schemas, so a batch that COMMITS new columns serves older
    * batches' rows as NULL in those columns — additive evolution with
    * the same reader, the offline equivalent of Delta's
    * mergeSchema-on-write (column REMOVAL/retype stays an error by
    * parquet's merge rules, which is the safe default). */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, root: String,
                    manifest: TxnManifest,
                    physSchema: Option[org.apache.spark.sql.types.StructType] = None)
    : DataFrame = {
    val (dirs, dv) = splitDv(manifest.committedDirs(root))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"no committed batches under $root — nothing visible yet")
    applyDv(spark, readDirs(spark, dirs, physSchema), dv)
  }

  /** [[readCommitted]] across EVERY root the manifest names — how a
    * SHALLOW CLONE is read: inherited source-root dirs and the
    * clone's own writes serve as one table, oldest batch first. A
    * source dir deleted out from under the clone (source vacuumed
    * past the clone's snapshot) fails here with parquet's
    * path-not-found, the fail-loud contract — never a silently
    * shorter table. Do not use on a dual-write manifest. */
  def readCommittedUnion(spark: org.apache.spark.sql.SparkSession,
                         manifest: TxnManifest): DataFrame = {
    val (dirs, dv) = splitDv(manifest.committedDirsAll())
    if (dirs.isEmpty)
      throw new IllegalStateException("manifest has no committed batches")
    applyDv(spark, spark.read.option("mergeSchema", true).parquet(dirs: _*), dv)
  }

  /** Time travel on the manifest layer: the table as it stood when
    * batch `asOfBatch` was the newest commit — Delta's `VERSION AS OF`
    * on plain parquet. Works because commits only ADD batch-keyed
    * dirs and [[vacuum]] only deletes UN-named ones; the one
    * history-rewriting operation is [[compact]], whose `replaceAll`
    * collapses its inputs into one entry — travel before a compaction
    * point therefore degrades to the compacted view, exactly like
    * Delta time travel after its VACUUM horizon. */
  def readCommittedAsOf(spark: org.apache.spark.sql.SparkSession, root: String,
                        manifest: TxnManifest, asOfBatch: Int): DataFrame = {
    val (dirs, dv) = splitDv(manifest.committed().toSeq
      .filter(_._1 <= asOfBatch).sortBy(_._1)
      .flatMap(_._2).filter(_.startsWith(root + "/")))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"nothing committed under $root at or before batch $asOfBatch")
    applyDv(spark, spark.read.option("mergeSchema", true).parquet(dirs: _*), dv)
  }

  /** VERSION-addressed time travel: the table exactly as manifest
    * version `version` served it, from that version's claim
    * tombstone — unlike [[readCommittedAsOf]]'s batch-id prefix this
    * replays merges, compactions, and restores faithfully (a version
    * BEFORE a merge still names the pre-merge dirs). Valid while the
    * named dirs exist, i.e. inside the vacuum retention window —
    * Delta's own constraint. */
  def readCommittedAtVersion(spark: org.apache.spark.sql.SparkSession,
                             root: String, manifest: TxnManifest,
                             version: Long): DataFrame = {
    val (dirs, dv) = splitDv(manifest.stateAt(version).toSeq.sortBy(_._1)
      .flatMap(_._2).filter(_.startsWith(root + "/")))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"nothing committed under $root at manifest version $version")
    applyDv(spark, spark.read.option("mergeSchema", true).parquet(dirs: _*), dv)
  }

  /** Delta `TIMESTAMP AS OF`: "the table as of yesterday 09:00".
    * Resolves the timestamp to the newest manifest version committed
    * at or before it ([[TxnManifest.versionAt]] — claim-file mtimes,
    * monotonic-adjusted, the same clock Delta reads) and serves that
    * version's state. A timestamp between two commits yields the
    * earlier one; one before the first commit fails loudly. */
  def readCommittedAsOfTimestamp(spark: org.apache.spark.sql.SparkSession,
                                 root: String, manifest: TxnManifest,
                                 timestampMillis: Long): DataFrame =
    readCommittedAtVersion(spark, root, manifest,
      manifest.versionAt(timestampMillis))
}
