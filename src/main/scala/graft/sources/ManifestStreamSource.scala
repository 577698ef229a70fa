package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, Or}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 face of the [[TxnManifest]] log — the engine's sixth
  * Catalyst extension surface. `spark.readStream.format("graft-manifest")
  * .option("manifest", commitFile).load(root)` plans the manifest tail
  * NATIVELY: offsets are manifest batch ids (exactly
  * [[ManifestConsumer]]'s contract, `accounts.py:147-161` upstream),
  * each micro-batch reads only the directories committed in
  * `(start, end]`, and Spark's own checkpoint WAL replaces the
  * driver-loop offset store — restart resumes from the checkpointed
  * id with no re-delivery into the sink. `spark.read` over the same
  * format serves the batch view (every committed dir, orphans
  * invisible), the readCommitted twin.
  *
  * Visibility is manifest-gated, which Spark's file-stream source
  * cannot express (it defines visibility by directory listing, so a
  * crash orphan would be consumed). Parquet decoding rides Spark's own
  * `ParquetFileFormat` reader — vectorized, codegen-compatible, with
  * per-file schema clipping, so a file written before an additive
  * schema evolution serves NULL for the later columns exactly like the
  * `mergeSchema` batch path.
  *
  * Operational contract (same as a Kafka topic):
  *   - producer batch ids are MONOTONIC ([[ManifestConsumer]] doc);
  *   - maintenance (compact / vacuum) must not rewrite batches an
  *     active consumer has not passed — a replaceAll under a lagging
  *     stream drops the old ids from the log, and ids are sparse by
  *     design (watermark-derived), so the source cannot distinguish
  *     "compacted away" from "never existed". Run maintenance behind
  *     the slowest checkpoint, the Delta retention discipline;
  *   - a MERGE under a live stream turns the feed into an UPSERT
  *     feed: the merge's new batch id (necessarily above consumed
  *     offsets) carries the rewritten dirs' KEPT rows alongside the
  *     updated ones, so downstream sees those keys again — exactly
  *     the change-feed semantics a keyed-idempotent sink absorbs and
  *     an append-only sink must not be pointed at.
  */
final class GraftManifestProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"

  /** Empty manifest = a table that does not exist YET: schema comes
    * back empty so a streaming WRITE can bootstrap it (the write takes
    * its schema from the query); reads of the empty table fail loudly
    * at scan build ([[GraftManifestTable.newScanBuilder]]). With
    * option `schemaLog`, the LOGICAL schema comes from the
    * [[SchemaLog]] column mapping instead of file names — evolved
    * tables stream under their current names. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (root, manifestPath) = GraftManifestSource.rootAndManifest(options)
    val base = GraftManifestSource.mapping(options) match {
      case Some(cols) =>
        StructType(cols.map(c => org.apache.spark.sql.types
          .StructField(c.logical, c.dataType)))
      case None =>
        GraftManifestSource
          .mergedSchemaOpt(SparkSession.active, root, manifestPath)
          .getOrElse(StructType(Nil))
    }
    // the change-feed view appends Delta CDF's metadata columns; the
    // DATA schema stays the inferred one (merge-written `_cdf`
    // sidecars carry _change_type physically, but the batch dirs a
    // feed serves as inserts do not — it arrives as a partition value)
    if (GraftManifestSource.changeFeed(options) && base.nonEmpty)
      base.add(Sinks.ChangeTypeCol, org.apache.spark.sql.types.StringType)
        .add("_commit_batch", org.apache.spark.sql.types.IntegerType)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftManifestTable(schema, new CaseInsensitiveStringMap(properties))
}

final class GraftManifestTable(tableSchema: StructType,
                               options: CaseInsensitiveStringMap)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  private val (root, manifestPath) = GraftManifestSource.rootAndManifest(options)

  /** `union=true` — a SHALLOW CLONE's read view: the manifest names
    * dirs under the source's root (inherited, zero-copy) and this
    * table's own (divergence); scans union them all. Write paths that
    * reason per-root (truncate, native DELETE, change feed, streams)
    * refuse loudly on such tables. */
  private val unionView: Boolean =
    Option(options.get("union")).exists(_.toBoolean)

  /** `bucketBy` — hash-bucketed layout (see [[Bucketing]]): the table
    * REPORTS `bucket(n, cols...)` partitioning, which Spark resolves
    * against the owning catalog's bucket function for
    * storage-partitioned joins. The spec's keys are LOGICAL names. */
  private val bucketSpec: Option[Bucketing.Spec] =
    Option(options.get("bucketBy")).map(Bucketing.parse)

  /** The spec with PHYSICAL key names — what the file layer
    * (repartition targets, `_bucketed` markers) carries on
    * columnMapping tables, so a metadata-only RENAME of a bucket key
    * never detaches the recorded layout (physical ids are
    * immutable). Identity on unmapped tables. */
  private def physBucketSpec: Option[Bucketing.Spec] =
    bucketSpec.map(b => Bucketing.physical(b,
      GraftManifestSource.mapping(options).getOrElse(Nil)))

  override def partitioning()
    : Array[org.apache.spark.sql.connector.expressions.Transform] =
    // one single-column transform PER KEY (the product grid): Spark's
    // SPJ planner requires one leaf per partition expression
    bucketSpec.toSeq.flatMap(b => b.keys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions
        .bucket(b.n, k))).toArray

  /** Native `DELETE FROM <table> WHERE <cond>` on a PLAIN session (no
    * extension parser, no GraftSql): Spark hands the condition as V2
    * predicates; they convert to V1 filters, evaluate as a WHERE over
    * the committed read (logical space on mapped tables), and the
    * matching keys route through the same mergeDelete / DV-delete the
    * SQL verb uses. Supported only when the table carries merge keys
    * (the `keys` option a [[graft.plans.GraftCatalog]] table always
    * has) and every predicate has a filter/Column twin — anything
    * else refuses, steering to the full-surface GraftSql path. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Boolean =
    !unionView && deleteKeys.nonEmpty &&
      predicates.forall(p =>
      org.apache.spark.sql.graftbridge.PredicateBridge.toV1(p)
        .exists(f => GraftManifestSource.filterColumn(f).isDefined))

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Unit = {
    require(deleteKeys.nonEmpty,
      s"graft-manifest: DELETE needs merge keys — row identity is " +
        "undefined without the 'keys' option (catalog tables carry it)")
    val conds = predicates.toSeq.map { p =>
      org.apache.spark.sql.graftbridge.PredicateBridge.toV1(p)
        .flatMap(GraftManifestSource.filterColumn).getOrElse(
          throw new UnsupportedOperationException(
            s"graft-manifest: DELETE condition $p has no filter " +
              "translation — run the statement through GraftSql.execute " +
              "or a GraftExtensions session"))
    }
    val spark = SparkSession.active
    val man = new TxnManifest(manifestPath)
    val ids = man.committed().keySet
    require(ids.nonEmpty, "nothing committed yet — DELETE needs a live table")
    val mergeId = ids.max + 1
    val mapping = GraftManifestSource.mapping(options)
    val cur = mapping match {
      case Some(_) =>
        val logPath = options.get("schemaLog")
        SchemaLog.readCommittedMapped(spark, root, man,
          new SchemaLog(logPath))
      case None => Sinks.readCommitted(spark, root, man)
    }
    val matched = conds.foldLeft(cur)((df, c) => df.where(c))
    val toPhys: String => String = mapping match {
      case Some(cols) => l => cols.find(_.logical.equalsIgnoreCase(l))
        .map(_.physical).getOrElse(l)
      case None => identity
    }
    val physKeys = deleteKeys.map(toPhys)
    val delKeys = matched
      .select(deleteKeys.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
      .select(deleteKeys.zip(physKeys).map { case (l, p) =>
        org.apache.spark.sql.functions.col(l).as(p) }: _*)
    val cdf = Option(options.get("cdf")).exists(_.toBoolean)
    // mapped tables hand the merge the EXPLICIT physical schema — a
    // widen-only retype leaves mixed physical file types, which
    // mergeSchema refuses and the explicit schema promotes (same
    // threading as every statement-path DML)
    val physSchema = mapping.map(SchemaLog.physicalSchema)
    if (Option(options.get("deletionVectors")).exists(_.toBoolean))
      Sinks.mergeDeleteDV(spark, delKeys, root, man, physKeys, mergeId,
        cdf = cdf, physSchema = physSchema)
    else
      Sinks.mergeDelete(spark, delKeys, root, man, physKeys, mergeId,
        cdf = cdf, physSchema = physSchema, bucketBy = physBucketSpec)
  }

  private def deleteKeys: Seq[String] =
    Option(options.get("keys")).toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty)

  /** `TRUNCATE TABLE` — one atomic manifest commit replacing the
    * whole view with an EMPTY batch ([[Sinks.insertOverwrite]]'s
    * contract: readers see old view or empty, never a mix; history
    * stays restorable until vacuum; change feed marks collapsed).
    * Mapped tables truncate with physical names like any write. */
  override def truncateTable(): Boolean = {
    require(!unionView,
      s"graft-manifest: TRUNCATE on a shallow clone is not supported — " +
        "the overwrite would un-name only the clone-root dirs and leave " +
        "inherited source dirs visible; DELETE FROM <clone> instead")
    val spark = SparkSession.active
    val man = new TxnManifest(manifestPath)
    val ids = man.committed().keySet
    val batchId = if (ids.isEmpty) 0 else ids.max + 1
    val physSchema = GraftManifestSource.mapping(options) match {
      case Some(cols) => StructType(cols.map(c => org.apache.spark.sql.types
        .StructField(c.physical, c.dataType)))
      case None => tableSchema
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], physSchema)
    Sinks.insertOverwrite(spark, empty, root, man, batchId)
    // an empty dir is trivially bucket-consistent — marking it keeps
    // the table's reported partitioning alive across TRUNCATE
    physBucketSpec.foreach(b =>
      Bucketing.writeMarker(s"$root/batch=$batchId", b))
    true
  }

  override def name(): String = s"graft-manifest `$root`"
  override def schema(): StructType = tableSchema

  /** Surface the effective options (root, manifest, bloomColumns,
    * schemaLog, check.* constraints, …) as table properties, so
    * Spark's native `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`
    * introspect a catalog table without any graft-specific verb. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    options.entrySet().forEach(e => m.put(e.getKey, e.getValue))
    // the reserved provider property: SHOW CREATE TABLE renders it as
    // the USING clause — without it the emitted DDL would recreate
    // the table under the session's default source
    m.put(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER,
      "graft-manifest")
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // batch writes ride the V1 InsertableRelation fallback: the
      // whole-frame append/overwrite IS this engine's commit unit
      // (one stats-indexed batch dir + one manifest CAS), so a
      // distributed per-task commit protocol would only re-implement
      // what the manifest already guarantees
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a MAPPED table's batch writes translate logical → physical names
    // through the SchemaLog before anything reaches a file (writing
    // the query's names verbatim would break the mapping invariant
    // silently); the STREAMING write binds logical → physical once
    // per query (physical-id keyed) and pins one mapping snapshot per
    // epoch — see GraftManifestWriterFactory
    val mappedLog: Option[SchemaLog] =
      Option(options.get("schemaLog")).map(new SchemaLog(_))
    // opt-in per-epoch bloom indexing (Delta's bloomFilterIndex shape,
    // declared at the sink): validate names and types NOW, at plan
    // time — a bad column must not fail the first epoch's commit
    val bloomColsDeclared: Seq[String] =
      Option(options.get("bloomColumns")).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    bloomColsDeclared.foreach { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloomColumns names '$c', absent from the write schema " +
            info.schema().simpleString))
      if (!BloomIndex.indexable(f.dataType))
        throw new IllegalArgumentException(
          s"bloomColumns column '$c' has unindexable type " +
            s"${f.dataType.simpleString} (string and signed integral only)")
    }
    // mapped tables index the immutable PHYSICAL twins (the write
    // lands physical files; physical names never move under RENAME,
    // so coverage survives every metadata-only rename)
    val bloomCols: Seq[String] = mappedLog match {
      case None => bloomColsDeclared
      case Some(log) =>
        val toPhys = log.current()._2
          .map(c => c.logical.toLowerCase -> c.physical).toMap
        bloomColsDeclared.map(c => toPhys.getOrElse(c.toLowerCase,
          throw new IllegalArgumentException(
            s"bloomColumns names '$c', absent from the schema log")))
    }
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      // INSERT OVERWRITE / writeTo(...).overwritePartitions: truncate
      // = replace the whole table atomically (the manifest's
      // insertOverwrite — old view or new, never a mix)
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // bucketed tables DECLARE their routing to Spark: clustered
          // on the bucket keys with exactly n partitions, so the
          // planner inserts the same HashPartitioning repartition the
          // statement INSERT applies. This is what routes STREAMING
          // epochs (the writer factory cannot repartition); on the
          // V1 batch path it composes with insert()'s own repartition
          // (CollapseRepartition folds the identical pair).
          override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
            bucketSpec match {
              case Some(b) =>
                // single-key: with requiredNumPartitions = n below,
                // partition id = pmod(murmur3_42(key), n) = bucket id.
                // MULTI-key: the flat grid index is NOT any
                // HashPartitioning's partition id, so the task-side
                // rolling writer routes instead — clustering on the
                // keys here only co-locates equal tuples (fewer
                // rolled files), it carries no soundness weight.
                org.apache.spark.sql.connector.distributions.Distributions
                  .clustered(b.keys.map(k =>
                    org.apache.spark.sql.connector.expressions.Expressions
                      .column(k): org.apache.spark.sql.connector
                      .expressions.Expression).toArray)
              case None =>
                org.apache.spark.sql.connector.distributions.Distributions
                  .unspecified()
            }
          override def requiredNumPartitions(): Int =
            bucketSpec.filter(_.keys.size == 1).map(_.n).getOrElse(0)
          override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  legacyOverwrite: Boolean): Unit = {
                // Spark's own resolution already demands EVERY table
                // column from a native write, so an IDENTITY column
                // would have to arrive with caller-chosen values —
                // exactly what GENERATED ALWAYS forbids. Only the
                // statement INSERT path can allocate; route there.
                // identity columns are implicitly NOT NULL: the guard
                // rides IN the write plan (evaluated on exactly the
                // written rows — no extra source execution)
                val data1 = tableSchema.fields.foldLeft(data) { (df, f) =>
                  org.apache.spark.sql.catalyst.util.IdentityColumn
                    .getIdentityInfo(f) match {
                    case None => df
                    case Some(spec) =>
                      require(spec.isAllowExplicitInsert,
                        s"graft-manifest: native write cannot allocate " +
                          s"GENERATED ALWAYS AS IDENTITY column " +
                          s"'${f.name}' — use the INSERT INTO statement")
                      graft.ops.Ids.guardNoNullIdentity(s"`$root`",
                        df, f.name)
                  }
                }
                val man = new TxnManifest(manifestPath)
                val ids = man.committed().keySet
                val batchId = if (ids.isEmpty) 0 else ids.max + 1
                // catalog CHECK constraints ride as check.* options —
                // the native write path aborts on violation exactly
                // like the statement INSERT
                CheckConstraints.enforce(s"`$root`",
                  CheckConstraints.fromOptions(options), data1,
                  "INSERT into")
                // mapped tables: logical → physical at the last moment
                // before files; the mapped scan ignores stats sidecars
                // (their filters are physical-name), so the plain
                // append suffices
                val frame = mappedLog match {
                  case None => data1
                  case Some(log) =>
                    val (_, cols) = log.current()
                    val missing =
                      cols.map(_.logical).toSet -- data1.columns.toSet
                    require(missing.isEmpty,
                      s"graft-manifest mapped write is missing logical " +
                        s"columns $missing")
                    data1.select(cols.map(c => org.apache.spark.sql
                      .functions.col(c.logical).as(c.physical)): _*)
                }
                // `frame` is PHYSICAL here (mapped tables translated
                // above), so the routing keys are the physical twins
                val physBucket = physBucketSpec
                val framed2 = physBucket match {
                  case None => frame
                  case Some(b) =>
                    // route rows to their buckets exactly like the
                    // statement INSERT (partition index = flat
                    // bucket index, the id the scan groups on)
                    Bucketing.routed(frame, b)
                }
                if (overwrite || legacyOverwrite) {
                  // mirror truncateTable / the statement path
                  // (SqlDml's overwrite guard): insertOverwrite
                  // un-names only clone-root dirs, so on a shallow
                  // clone the inherited source dirs would stay
                  // visible — old source rows silently union'd with
                  // the new data. Refuse until materialized.
                  require(!unionView,
                    "graft-manifest: INSERT OVERWRITE on a shallow " +
                      "clone is not supported — the overwrite can " +
                      "only un-name the clone's own dirs, leaving " +
                      "inherited source rows visible; materialize " +
                      "the clone (OPTIMIZE) first")
                  Sinks.insertOverwrite(data.sparkSession, frame, root, man,
                    batchId, bucketBy = physBucket)
                }
                else {
                  // stats sidecars carry PHYSICAL names on mapped
                  // tables; the scan translates its filters to match
                  StatsSinks.appendBatchStats(framed2, root, batchId,
                    bloomColumns = bloomCols)
                  physBucket.foreach(b => Bucketing.writeMarkerWithFiles(
                    data.sparkSession, s"$root/batch=$batchId", b))
                  man.commit(batchId, Seq(s"$root/batch=$batchId"))
                }
              }
            }
          override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (unionView)
              throw new UnsupportedOperationException(
                "graft-manifest: streaming write into a shallow clone " +
                  "is not supported — epoch N commits as batch id N and " +
                  "would silently REPLACE the clone's inherited entry N " +
                  "(the read side refuses union tables for the same " +
                  "reason); materialize the clone (OPTIMIZE) first")
            tableSchema.fields.foreach { f =>
              org.apache.spark.sql.catalyst.util.IdentityColumn
                .getIdentityInfo(f).foreach(_ =>
                  throw new UnsupportedOperationException(
                    s"graft-manifest: streaming sink cannot allocate " +
                      s"IDENTITY column '${f.name}' — stream into a " +
                      "plain table and INSERT ... SELECT into the " +
                      "identity table per epoch"))
            }
            // columnMapping tables stream through an EPOCH-PINNED
            // mapping snapshot (recorded in the epoch's ownership
            // claim): a concurrent rename lands between epochs, never
            // inside one, and replays rewrite under the original
            // physical names — see GraftManifestWriterFactory
            new GraftManifestStreamingWrite(root, manifestPath, info.schema(),
              info.queryId(), bloomCols,
              schemaLogPath = Option(options.get("schemaLog")),
              // the sink carries the PHYSICAL spec: markers and the
              // per-row routing check live at the file layer
              bucketSpec = physBucketSpec)
          }
        }
    }
  }

  /** Column pruning + filter pushdown, so a 2-column projection over a
    * wide committed table decodes 2 columns, not the row. Filters are
    * handed to the parquet reader for row-group/page skipping via
    * statistics — best-effort, so every filter is ALSO kept post-scan
    * (returned un-consumed from pushFilters), the same contract the
    * built-in parquet source honors. */
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    if (tableSchema.isEmpty)
      throw new IllegalStateException(
        s"graft-manifest: nothing committed under $root in $manifestPath — " +
          "no schema to serve; commit at least one batch before subscribing " +
          "(same constraint as reading an empty Delta log)")
    if (GraftManifestSource.changeFeed(options)) {
      require(!unionView,
        "graft-manifest: changeFeed on a shallow clone is not supported " +
          "— read the SOURCE table's feed (inherited history belongs to " +
          "it), or the clone's own commits via its manifest directly")
      // no pruning/pushdown: a change feed serves WHOLE delta rows —
      // downstream appliers need every column plus the change metadata.
      // A schemaLog mapping composes: deltas serve under the CURRENT
      // logical names through the same translation the base reader
      // uses (a rename needs no feed migration)
      return new ScanBuilder {
        override def build(): Scan = new GraftManifestCdfScan(tableSchema,
          root, manifestPath,
          GraftManifestSource.startingBatchId(options),
          GraftManifestSource.maxBatchesPerTrigger(options),
          GraftManifestSource.endingBatchId(options),
          GraftManifestSource.mapping(options))
      }
    }
    new ScanBuilder
      with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      private var required: StructType = tableSchema
      private var pushed: Array[Filter] = Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters // stats skipping is best-effort: all stay post-scan
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def build(): Scan =
        new GraftManifestScan(tableSchema, required, pushed, root, manifestPath,
          GraftManifestSource.startingBatchId(options),
          GraftManifestSource.maxBatchesPerTrigger(options),
          GraftManifestSource.mapping(options),
          GraftManifestSource.versionAsOf(options),
          GraftManifestSource.timestampAsOf(options),
          GraftManifestSource.atManifestVersion(options),
          union = unionView,
          bucketBy = bucketSpec)
    }
  }
}

final class GraftManifestScan(dataSchema: StructType, required: StructType,
                              pushed: Array[Filter],
                              root: String, manifestPath: String, starting: Int,
                              maxBatches: Option[Int],
                              mapping: Option[Seq[SchemaLog.Col]] = None,
                              asOf: Option[Int] = None,
                              asOfTs: Option[Long] = None,
                              atVersion: Option[Long] = None,
                              union: Boolean = false,
                              bucketBy: Option[Bucketing.Spec] = None)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  require(Seq(asOf, asOfTs, atVersion).count(_.isDefined) <= 1,
    "versionAsOf, timestampAsOf, and atVersion are mutually exclusive")
  // a union (shallow-clone) scan serves EVERY dir the manifest names;
  // version addressing filters by root and would misread that view
  require(!union || (asOf.isEmpty && asOfTs.isEmpty && atVersion.isEmpty),
    "union=true (shallow clone) does not compose with time travel — " +
      "the historical root filter is undefined across inherited roots")
  require(!union || mapping.isEmpty,
    "union=true (shallow clone) does not compose with schemaLog " +
      "column mapping")

  /** Runtime (dynamic) file pruning — the DSv2 twin of dynamic
    * partition pruning: when this table joins a BROADCAST side whose
    * filter is selective, Spark re-plans the scan with the join keys'
    * runtime value set, and the same sidecar machinery that serves
    * static pushdown (typed min/max bounds, null counts, per-file
    * blooms) skips files against values known only at RUN time. A
    * `dim.filter(...).join(fact)` then reads the matching fact files
    * instead of the whole table — at 100 TB the difference between a
    * dim-driven lookup and a full scan. Every column is offered:
    * which keys arrive depends on the join, and a column without
    * sidecar coverage degrades to no pruning, never to a wrong
    * result ([[BatchStats.mayMatch]] is conservative). Offered from
    * the PRUNED read schema, not the table schema: Spark resolves
    * these against the scan relation's output, and a projected-away
    * column there fails resolution (a join key is always in the
    * output, so nothing prunable is lost). */
  /** The spec with PHYSICAL key names — markers record the file
    * layer's immutable column identity on columnMapping tables, so a
    * RENAME of a bucket key never detaches recorded layouts. The
    * REPORTED partitioning (and filter pruning) stays logical. */
  private val physBucket: Option[Bucketing.Spec] =
    bucketBy.map(b => Bucketing.physical(b, mapping.getOrElse(Nil)))

  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // bucketed scans included: runtime filtering prunes files WITHIN
    // each bucket group and keeps every group present (empty-filed),
    // so the reported group count and key set survive the re-plan —
    // a bucketed fact joined to a filtered broadcast dim reads the
    // matching files, not the table.
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(runtime: Array[Filter]): Unit = synchronized {
    // lock the reported partition-key set BEFORE dropping the memo:
    // Spark demands the re-planned partitions carry exactly the keys
    // it planned the storage-partitioned join around
    if (lockedKeys.isEmpty)
      lockedKeys = groupsMemo.flatten.map(_.collect {
        case b: Bucketing.BucketPartition => b.bucketId }.toSeq)
    runtimeFilters = runtime
    partsMemo = null // next planInputPartitions re-plans with them
    groupsMemo = None
  }
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var lockedKeys: Option[Seq[Int]] = None
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftManifestScan(root=$root, " +
      s"readSchema=[${required.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushed.mkString(",")}])"
  override def supportedCustomMetrics()
    : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesReadMetric, new BytesReadMetric)

  /** Post-pruning scan statistics — the bytes the plan will actually
    * read after stats/bloom file skipping, from the planned
    * partitions' parquet file lengths (metadata already in hand: no
    * extra IO). Without this, a DSv2 relation reports the session
    * default (effectively ∞), so a join against even a tiny
    * graft-manifest table could NEVER auto-broadcast and every such
    * join paid a full shuffle — the single worst silent plan
    * regression at 100 TB, where the dims are exactly the tables this
    * format serves. Compressed on-disk bytes understate in-memory
    * row size (Delta reports the same basis), so the broadcast
    * decision stays conservative in the safe direction for dense
    * parquet. */
  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = batchParts.map {
        case p: ManifestFilePartition => p.length
        case _                        => 0L
      }.sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  // the batch view ignores `starting`: it is readCommitted-as-DSv2;
  // versionAsOf serves the table as of a batch id, timestampAsOf as
  // of a wall time via the claim tombstones (time travel — valid
  // until compaction/vacuum collapse the history horizon). Shared by
  // toBatch and estimateStatistics — planned once per scan, and
  // re-planned when a runtime filter arrives after the first plan
  // (estimateStatistics runs at optimization, BEFORE runtime
  // filtering; serving that memo to the post-filter read would
  // silently drop the pruning).
  @volatile private var partsMemo: Array[InputPartition] = _
  private def batchParts: Array[InputPartition] = synchronized {
    if (partsMemo == null) partsMemo = planBatchParts()
    partsMemo
  }
  private def planBatchParts(): Array[InputPartition] = {
      val manifest = new TxnManifest(manifestPath)
      // mapped tables: translate the filters' names to their physical
      // twins so sidecar stats/bloom skipping holds there too
      val all = pushed.toSeq ++ runtimeFilters
      val filters = mapping match {
        case None       => all
        case Some(cols) => GraftManifestSource.translateFilters(all, cols)
      }
      // atVersion = a MANIFEST version (DESCRIBE HISTORY's numbers —
      // the SQL `VERSION AS OF` face); timestampAsOf resolves to one
      val parts =
        atVersion.orElse(asOfTs.map(manifest.versionAt)) match {
          case Some(version) =>
            val dirs = manifest.stateAt(version).toSeq
              .sortBy(_._1).flatMap(_._2).filter(_.startsWith(root + "/"))
            // same loud failure readCommittedAtVersion raises for this
            // state — an empty scan would misread "no table yet at that
            // time" as "table was empty at that time"
            if (dirs.isEmpty)
              throw new IllegalStateException(
                s"nothing committed under $root at manifest version $version")
            GraftManifestSource.partitionsForDirs(manifest, dirs, filters)
          case None if union =>
            // shallow clone: the view spans the source's root (inherited
            // dirs) and the clone's own — readCommittedUnion as DSv2
            GraftManifestSource.partitionsForDirs(manifest,
              manifest.committedDirsAll(), filters)
          case None => GraftManifestSource.partitionsFor(
            manifest, root, Int.MinValue, asOf.getOrElse(Int.MaxValue), filters)
        }
      pruneByBucket(parts)
  }

  /** BUCKET PRUNING — the free point-lookup win of the bucketed
    * layout: an equality / IN filter on the bucket key can only match
    * rows in the value's bucket(s), so every OTHER bucket's files
    * drop from the plan before stats or blooms even look. The same
    * routing function the writer used computes the target bucket
    * (null-keyed values included — the writer routed them through the
    * identical hash-of-null), and only files in MARKED dirs prune
    * (a foreign batch's names prove nothing about its rows). n-fold
    * scan reduction on keyed lookups, composing with the sidecar
    * skipping that runs after. */
  private def pruneByBucket(parts: Array[InputPartition]): Array[InputPartition] =
    (bucketBy, physBucket) match {
      case (Some(b), Some(pb)) =>
        // per-key candidate BUCKET sets from the pushed equality / IN
        // filters (logical names). The grid is a PRODUCT, so pruning
        // per key composes: a constrained key drops every file whose
        // bucket vector has that component outside the set —
        // equality on a SUBSET of the keys already prunes (n-fold
        // per constrained key). AND semantics across filters on the
        // same key: intersect.
        val perKey: Seq[Option[Set[Int]]] = b.keys.map { k =>
          dataSchema.fields.find(_.name.equalsIgnoreCase(k))
            .map(_.dataType).flatMap { dt =>
              def toBucket(v: Any): Int = Bucketing.bucketOf(
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToCatalyst(v), dt, b.n)
              val sets = pushed.toSeq.collect {
                case org.apache.spark.sql.sources.EqualTo(a, v)
                  if a.equalsIgnoreCase(k) => Set(toBucket(v))
                case org.apache.spark.sql.sources.In(a, vs)
                  if a.equalsIgnoreCase(k) =>
                  vs.map(toBucket).toSet
              }
              sets.reduceOption(_ intersect _)
            }
        }
        if (perKey.forall(_.isEmpty)) parts
        else {
          // markers carry the PHYSICAL spec; a file resolves through
          // the explicit map first, name parse for round-8 markers.
          // Marker reads go through the scan-shared parallel cache.
          prewarmResolvers(pb, parts.collect {
            case f: ManifestFilePartition =>
              f.filePath.substring(0, f.filePath.lastIndexOf('/'))
          }.distinct.toSeq)
          parts.filter {
            case f: ManifestFilePartition =>
              val dir = f.filePath.substring(0, f.filePath.lastIndexOf('/'))
              resolverFor(pb)(dir) match {
                case None => true // foreign layout: never prune
                case Some(resolve) =>
                  val name = f.filePath
                    .substring(f.filePath.lastIndexOf('/') + 1)
                  resolve(name).forall { flat =>
                    if (flat >= pb.totalGroups) true // foreign: keep
                    else Bucketing.dims(flat, pb).zip(perKey).forall {
                      case (d, set) => set.forall(_.contains(d))
                    }
                  }
              }
            case _ => true
          }
        }
      case _ => parts
    }

  /** One marker-read cache per scan: bucket pruning and group
    * reporting both resolve the same dirs, and each dir costs one
    * tiny namespace read — paid once, prefetched in parallel
    * (committed dirs are immutable, so entries never go stale). */
  private val markerResolvers = new java.util.concurrent.ConcurrentHashMap[
    String, Option[String => Option[Int]]]()
  private def resolverFor(pb: Bucketing.Spec)(dir: String)
    : Option[String => Option[Int]] =
    markerResolvers.computeIfAbsent(dir, d => Bucketing.fileBuckets(d, pb))
  private def prewarmResolvers(pb: Bucketing.Spec,
                               dirs: Seq[String]): Unit = {
    val missing = dirs.filterNot(markerResolvers.containsKey)
    if (missing.nonEmpty) {
      GraftManifestSource.parallelMap(missing)(d =>
        markerResolvers.computeIfAbsent(d,
          dd => Bucketing.fileBuckets(dd, pb)))
      ()
    }
  }

  /** Bucket groups for the SPJ report: per-file partitions grouped
    * by the bucket id in their file names — None when the table is
    * not bucketed or any file has a foreign layout (then the scan
    * reports unknown partitioning, never a wrong one). Memoized WITH
    * the parts memo (same lock, cleared together), so the reported
    * group count and the planned partitions always agree AND the
    * per-dir marker reads (one tiny object-store round trip per
    * batch dir) are paid once per scan, not once per planner call. */
  @volatile private var groupsMemo: Option[Option[Array[InputPartition]]] = None
  private def bucketGroups: Option[Array[InputPartition]] = synchronized {
    if (groupsMemo.isEmpty)
      groupsMemo = Some(physBucket.flatMap { b =>
        val parts = batchParts.collect {
          case f: ManifestFilePartition => f: InputPartition
        }
        prewarmResolvers(b, parts.collect {
          case f: ManifestFilePartition =>
            f.filePath.substring(0, f.filePath.lastIndexOf('/'))
        }.distinct.toSeq)
        Bucketing.groupByBucket(parts, b, requiredKeys = lockedKeys,
          resolverOf = Some(resolverFor(b)))
      })
    groupsMemo.get
  }

  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (bucketBy, bucketGroups) match {
      case (Some(b), Some(groups)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            b.keys.map(k => org.apache.spark.sql.connector.expressions
              .Expressions.bucket(b.n, k)
              : org.apache.spark.sql.connector.expressions.Expression)
              .toArray, groups.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(batchParts.length)
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      bucketGroups.getOrElse(batchParts)
    override def createReaderFactory(): PartitionReaderFactory = {
      // Spark refuses mixed row/columnar partitions: when any planned
      // file carries deletion-vector positions (row-path filtering),
      // the whole scan decodes rows
      val hasDv = batchParts.exists {
        case m: ManifestFilePartition => m.dvPositions.nonEmpty
        case _                        => false
      }
      GraftManifestSource.mappedReaderFactory(SparkSession.active, dataSchema,
        required, pushed, mapping, allowColumnar = !hasDv)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!union,
      "graft-manifest: streaming a shallow clone is not supported — " +
        "tail the SOURCE table's stream, or materialize the clone first")
    require(asOf.isEmpty && asOfTs.isEmpty && atVersion.isEmpty,
      "versionAsOf/timestampAsOf/atVersion are batch-read options; use " +
        "startingBatchId on a stream")
    new GraftManifestMicroBatchStream(dataSchema, required, pushed,
      root, manifestPath, starting, maxBatches, mapping)
  }
}

/** Streaming CHANGE DATA FEED over the manifest — Delta's
  * `readChangeFeed` as a micro-batch stream. Offsets, admission
  * control, and Trigger.AvailableNow are inherited from the plain
  * stream (manifest batch ids in Spark's checkpoint WAL — restart
  * resumes exactly-once); only planning and decoding differ: a batch
  * with a `_cdf` sidecar serves its ROW-LEVEL deltas (update
  * pre/post images, inserts, deletes — `_change_type` read from the
  * sidecar files), an append batch serves its rows as inserts
  * (`_change_type` arrives as a constant partition value, zero bytes
  * per row), a compaction serves zero deltas via its no-change
  * marker, and a merge committed with `cdf = false` fails LOUDLY
  * ([[Sinks.readChanges]]'s exact rules, including the
  * collapsed-history feed gate). `_commit_batch` rides every row the
  * same way, so a downstream applier can order and checkpoint by
  * commit. */
final class GraftManifestCdfStream(cdfSchema: StructType, root: String,
                                   manifestPath: String, starting: Int,
                                   maxBatches: Option[Int],
                                   cdfMapping: Option[Seq[SchemaLog.Col]] = None)
  extends GraftManifestMicroBatchStream(cdfSchema, cdfSchema,
    Array.empty, root, manifestPath, starting, maxBatches) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GraftManifestSource.cdfPartitionsFor(manifest, root, idOf(start), idOf(end))

  override def createReaderFactory(): PartitionReaderFactory =
    GraftManifestSource.cdfReaderFactory(SparkSession.active, cdfSchema,
      cdfMapping)
}

/** Scan face of the change feed. The batch view is Delta's
  * `table_changes`: `spark.read` with `changeFeed=true` serves the
  * deltas in `(startingBatchId, endingBatchId]` (defaults: full
  * history → latest) — [[Sinks.readChanges]] as DSv2, same loud
  * rules. The stream tails the same planning continuously. */
final class GraftManifestCdfScan(cdfSchema: StructType, root: String,
                                 manifestPath: String, starting: Int,
                                 maxBatches: Option[Int],
                                 ending: Option[Int] = None,
                                 mapping: Option[Seq[SchemaLog.Col]] = None)
  extends Scan {
  override def readSchema(): StructType = cdfSchema
  override def description(): String =
    s"GraftManifestCdfScan(root=$root, changeFeed=true)"
  override def toBatch: Batch = new Batch {
    private lazy val parts = GraftManifestSource.cdfPartitionsFor(
      new TxnManifest(manifestPath), root, starting,
      ending.getOrElse(Int.MaxValue))
    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory =
      GraftManifestSource.cdfReaderFactory(SparkSession.active, cdfSchema,
        mapping)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(ending.isEmpty,
      "endingBatchId is a batch-read option; a stream tails indefinitely")
    new GraftManifestCdfStream(cdfSchema, root, manifestPath, starting,
      maxBatches, mapping)
  }
}

/** Offset = highest manifest batch id consumed (inclusive). */
final case class ManifestOffset(batchId: Int) extends Offset {
  override def json(): String = batchId.toString
}

/** Scan observability (SQL-UI/driver-visible): committed files and
  * bytes actually read — at 100 TB the first question about a slow
  * consumer is "how much did this trigger admit", and these answer it
  * per micro-batch without log spelunking. */
final class FilesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "manifestFilesRead"
  override def description(): String = "committed manifest files read"
}
final class BytesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "manifestBytesRead"
  override def description(): String = "committed manifest bytes read"
}
private final case class ManifestTaskMetric(name: String, value: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric

class GraftManifestMicroBatchStream(dataSchema: StructType,
                                    required: StructType,
                                    pushed: Array[Filter],
                                    root: String,
                                    manifestPath: String, starting: Int,
                                    maxBatches: Option[Int] = None,
                                    mapping: Option[Seq[SchemaLog.Col]] = None)
  extends MicroBatchStream
  with streaming.SupportsAdmissionControl
  with streaming.SupportsTriggerAvailableNow {

  protected def manifest = new TxnManifest(manifestPath)
  protected def idOf(o: Offset): Int = o match {
    case ManifestOffset(id) => id
    case other              => other.json().trim.toInt
  }

  /** `Trigger.AvailableNow` ceiling: committed ids captured at query
    * start; commits landing after it wait for the next run. */
  private var availableNowCap: Option[Int] = None

  override def initialOffset(): Offset = ManifestOffset(starting)

  /** Admission control: `maxBatchesPerTrigger` bounds how many
    * MANIFEST batches one micro-batch may span — a consumer resuming
    * against a deep backlog drains it in bounded, checkpointed steps
    * instead of one giant catch-up batch (the file source's
    * maxFilesPerTrigger shape; manifest batches are the unit here,
    * hence ReadMaxFiles carrying a batch count). */
  override def getDefaultReadLimit: streaming.ReadLimit =
    maxBatches.map(streaming.ReadLimit.maxFiles)
      .getOrElse(streaming.ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: streaming.ReadLimit): Offset = {
    val from = idOf(start)
    val pending = manifest.committed().keysIterator.filter(_ > from).toSeq.sorted
    val underCap = availableNowCap match {
      case Some(cap) => pending.filter(_ <= cap)
      case None      => pending
    }
    val admitted = limit match {
      case mf: streaming.ReadMaxFiles => underCap.take(mf.maxFiles())
      case _                          => underCap
    }
    ManifestOffset(if (admitted.isEmpty) from else admitted.max)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(idOf(latestOffset()))

  override def latestOffset(): Offset = {
    val ids = manifest.committed().keySet
    ManifestOffset(if (ids.isEmpty) starting else math.max(starting, ids.max))
  }

  override def deserializeOffset(json: String): Offset =
    ManifestOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // a deletion-vector batch has no row content — its MEANING is
    // "rows disappeared", which an append-shaped stream cannot
    // express; silently serving nothing would leave deleted rows
    // live downstream forever (the raw-consumer rule, pollOnce)
    val dvBatch = manifest.committed().toSeq
      .filter { case (id, _) => id > idOf(start) && id <= idOf(end) }
      .collectFirst { case (id, ds)
        if ds.exists(d => d.startsWith(root + "/") && Sinks.isDvDir(d)) => id }
    dvBatch.foreach(id => throw new IllegalStateException(
      s"batch $id under $root is a deletion-vector delete — the plain " +
        "stream cannot express row removal; subscribe with " +
        ".option(\"changeFeed\", \"true\") for row-level deltas"))
    GraftManifestSource.partitionsFor(manifest, root, idOf(start), idOf(end),
      mapping match {
        case None       => pushed.toSeq
        case Some(cols) => GraftManifestSource.translateFilters(pushed.toSeq, cols)
      })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftManifestSource.mappedReaderFactory(SparkSession.active, dataSchema,
      required, pushed, mapping)

  // progress lives in Spark's checkpoint WAL; the manifest is
  // immutable history, so there is nothing to acknowledge
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One committed parquet file — the unit of read parallelism.
  * `dvPositions` (sorted) are the file's deletion-vector row indices;
  * non-empty forces the row-path decode with position filtering. */
final case class ManifestFilePartition(filePath: String, length: Long,
                                       modificationTime: Long,
                                       dvPositions: Array[Long] = Array.empty)
  extends InputPartition

/** A change-feed file: `insertFile` distinguishes a data-batch file
  * (rows serve as inserts; `_change_type` is a constant) from a
  * `_cdf` sidecar file (rows carry their own `_change_type`). */
final case class CdfFilePartition(filePath: String, length: Long,
                                  modificationTime: Long, commitBatch: Int,
                                  insertFile: Boolean) extends InputPartition

/** Executor-side change-feed reader: two driver-built parquet
  * closures, both through `buildReaderWithPartitionValues`, so the
  * constant `_change_type`/`_commit_batch` columns ride Spark's own
  * partition-value mechanism — appended by the reader at zero
  * storage cost, exactly how hive-style partition columns serve. */
final case class CdfReaderFactory(
    insertRead: PartitionedFile => Iterator[InternalRow],
    cdfRead: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfFilePartition]
    val partValues =
      if (p.insertFile) InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("insert"),
        p.commitBatch)
      else InternalRow(p.commitBatch)
    val file = PartitionedFile(
      partitionValues = partValues,
      filePath = SparkPath.fromPathString(p.filePath),
      start = 0L,
      length = p.length,
      locations = Array.empty,
      modificationTime = p.modificationTime,
      fileSize = p.length)
    val read = if (p.insertFile) insertRead else cdfRead
    val rows: Iterator[InternalRow] =
      read(file).asInstanceOf[Iterator[Any]].flatMap {
        case cb: ColumnarBatch => cb.rowIterator().asScala
        case row               => Iterator.single(row.asInstanceOf[InternalRow])
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Executor-side reader: delegates decode to the closure
  * `ParquetFileFormat.buildReaderWithPartitionValues` built on the
  * driver (Spark's own vectorized parquet path — the same machinery a
  * `spark.read.parquet` scan runs, so encodings, rebase modes, and
  * missing-column NULL fill all behave identically). When the schema
  * supports batches the scan runs COLUMNAR end to end —
  * `supportColumnarReads` hands Spark the vectorized reader's
  * ColumnarBatches directly, same as the built-in file source; the
  * row path (with a defensive batch-flatten) serves everything else. */
final case class ManifestReaderFactory(
    read: PartitionedFile => Iterator[InternalRow],
    columnar: Boolean,
    dvRead: PartitionedFile => Iterator[InternalRow] = null,
    required: StructType = StructType(Nil)) extends PartitionReaderFactory {

  private def filesOf(partition: InputPartition): Array[ManifestFilePartition] =
    partition match {
      case b: Bucketing.BucketPartition => b.files
      case m: ManifestFilePartition     => Array(m)
      case other => throw new IllegalStateException(
        s"unexpected partition type ${other.getClass.getName}")
    }

  private def fileOf(p: ManifestFilePartition): (PartitionedFile, ManifestFilePartition) =
    (PartitionedFile(
      partitionValues = InternalRow.empty,
      filePath = SparkPath.fromPathString(p.filePath),
      start = 0L,
      length = p.length,
      locations = Array.empty,
      modificationTime = p.modificationTime,
      fileSize = p.length), p)

  private def metricsOf(p: ManifestFilePartition)
    : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ManifestTaskMetric("manifestFilesRead", 1L),
      ManifestTaskMetric("manifestBytesRead", p.length))

  /** One file's row iterator — DV positions dropped when present. */
  private def rowsOfFile(p: ManifestFilePartition): Iterator[InternalRow] = {
    val file = fileOf(p)._1
    if (p.dvPositions.isEmpty)
      read(file).asInstanceOf[Iterator[Any]].flatMap {
        case cb: ColumnarBatch => cb.rowIterator().asScala
        case row               => Iterator.single(row.asInstanceOf[InternalRow])
      }
    else {
      // DV path: the reader GENERATES each row's file position as
      // the appended row-index column (correct under row-group
      // skipping); drop vectored positions, project the column away
      val positions = p.dvPositions
      val idxOrdinal = required.length
      val project = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(required)
      dvRead(file).asInstanceOf[Iterator[Any]].flatMap {
        case cb: ColumnarBatch => cb.rowIterator().asScala
        case row               => Iterator.single(row.asInstanceOf[InternalRow])
      }.filter(r =>
        java.util.Arrays.binarySearch(positions, r.getLong(idxOrdinal)) < 0)
        .map(project)
    }
  }

  // uniform across partitions (Spark refuses mixed modes): the scan
  // builder disables columnar for the WHOLE scan when any planned
  // file carries DV positions (see GraftManifestScan.toBatch)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  override def createColumnarReader(partition: InputPartition)
    : PartitionReader[ColumnarBatch] = {
    val files = filesOf(partition)
    // the closure was built with returning_batch=true: elements ARE
    // ColumnarBatches disguised behind the InternalRow signature;
    // a bucket partition concatenates its files' batches
    val batches = files.iterator.flatMap(p =>
      read(fileOf(p)._1).asInstanceOf[Iterator[ColumnarBatch]])
    val metrics = Array[org.apache.spark.sql.connector.metric.CustomTaskMetric](
      ManifestTaskMetric("manifestFilesRead", files.length.toLong),
      ManifestTaskMetric("manifestBytesRead", files.map(_.length).sum))
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) { current = batches.next(); true } else false
      override def get(): ColumnarBatch = current
      override def close(): Unit = ()
      override def currentMetricsValues() = metrics
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // one concatenating body serves both shapes: a single file and a
    // bucket partition's file group (one-file groups reduce to the
    // plain per-file read and metrics)
    val files = filesOf(partition)
    val rows = files.iterator.flatMap(p => rowsOfFile(p))
    val metrics = Array[org.apache.spark.sql.connector.metric.CustomTaskMetric](
      ManifestTaskMetric("manifestFilesRead", files.length.toLong),
      ManifestTaskMetric("manifestBytesRead", files.map(_.length).sum))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
      override def currentMetricsValues() = metrics
    }
  }
}

private[graft] object GraftManifestSource {

  def rootAndManifest(options: CaseInsensitiveStringMap): (String, String) = {
    val root = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-manifest requires .load(<table root>)"))
    val manifestPath = Option(options.get("manifest")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest requires option 'manifest' = path of the TxnManifest commit file"))
    (root.stripSuffix("/"), manifestPath)
  }

  /** Exclusive lower bound for the first micro-batch; default consumes
    * the full committed history. */
  def startingBatchId(options: CaseInsensitiveStringMap): Int =
    Option(options.get("startingBatchId")).map(_.toInt).getOrElse(Int.MinValue)

  /** Admission-control knob: max MANIFEST batches per micro-batch;
    * absent = drain everything available each trigger. */
  def maxBatchesPerTrigger(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("maxBatchesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxBatchesPerTrigger must be positive, got $n")
      n
    }

  /** Time travel for the batch view: serve the table as of this batch
    * id, inclusive (readCommittedAsOf as DSv2). */
  def versionAsOf(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("versionAsOf")).map(_.toInt)

  /** Delta's `timestampAsOf` sibling: epoch millis, or a UTC wall
    * time `yyyy-MM-dd[ HH:mm:ss]` — resolved against claim-file
    * commit times ([[TxnManifest.versionAt]]) at scan build. */
  def timestampAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("timestampAsOf")).map { s =>
      s.toLongOption.getOrElse {
        val t = if (s.contains(" ") || s.contains("T"))
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        else java.time.LocalDate.parse(s).atStartOfDay()
        t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    }

  /** MANIFEST-version time travel (the numbers `DESCRIBE HISTORY` /
    * `RESTORE TO VERSION AS OF` use; the SQL `VERSION AS OF` face set
    * by [[graft.plans.GraftCatalog]]'s time-travel loadTable). */
  def atManifestVersion(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("atVersion")).map(_.toLong)

  /** `changeFeed` option: ROW-LEVEL deltas (Delta `readChangeFeed`)
    * instead of batch contents — streaming tail or batch range. */
  def changeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("changeFeed")).exists(_.toBoolean)

  /** Inclusive upper bound for a BATCH change-feed read
    * (`table_changes(..., start, end)`'s end). */
  def endingBatchId(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("endingBatchId")).map(_.toInt)

  /** Change-feed planning for the ids in `(from, to]` —
    * [[Sinks.readChanges]]'s rules at file-partition granularity:
    * `_cdf` deltas when recorded, data dirs as inserts otherwise
    * (DV sidecars never serve as data), marker-only merge commits
    * and collapsed history fail loudly. */
  def cdfPartitionsFor(manifest: TxnManifest, root: String,
                       from: Int, to: Int): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val byBatch = manifest.committed().toSeq
      .filter { case (id, ds) =>
        id > from && id <= to && ds.exists(_.startsWith(root + "/")) }
      .sortBy(_._1)
    def parquetFiles(fs: org.apache.hadoop.fs.FileSystem, p: HPath) =
      fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") &&
          !n.startsWith(".") && !n.startsWith("_")
      }
    def sidecar(id: Int): Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
      val cdfDir = new HPath(s"$root/_cdf/batch=$id")
      val fs = cdfDir.getFileSystem(conf)
      if (fs.exists(cdfDir)) Some(parquetFiles(fs, cdfDir).toSeq) else None
    }
    val out = Seq.newBuilder[InputPartition]
    val served = scala.collection.mutable.Set.empty[Int]
    // A rewrite that UN-NAMED undrained batches does not poison the
    // feed (consecutive DML between reads must serve): a collapsed
    // MERGE still serves its deltas from the on-disk `_cdf` sidecar
    // (never part of the collapsed data dirs), and a collapsed APPEND
    // serves its commit-time dirs recovered from the manifest's claim
    // tombstones — rewrites un-name dirs from the CURRENT state only,
    // so historical batches stay addressable exactly as Delta's
    // version-v files do, with VACUUM the one loud hazard. Only a
    // collapsed cdf=false merge (changes never recorded) or a batch
    // whose claims/dirs are gone refuses. Collapsed merges' own
    // markers are honored transitively.
    def handleMarker(id: Int): Unit =
      Sinks.readFeedMarker(conf, root, id).foreach { replaced =>
        replaced.filter(l => l > from && !served(l)).foreach { lostId =>
          served += lostId
          sidecar(lostId) match {
            case Some(files) if files.nonEmpty =>
              handleMarker(lostId)
              out ++= files.map(st => CdfFilePartition(st.getPath.toString,
                st.getLen, st.getModificationTime, lostId,
                insertFile = false))
            case Some(_) =>
              throw new IllegalStateException(
                s"change feed under $root: batch $lostId (collapsed by " +
                  s"batch $id) is a merge committed without change " +
                  "tracking (cdf = false) — its updates and deletes were " +
                  "never recorded. Re-bootstrap from a snapshot, or run " +
                  "merges with cdf = true on fed tables.")
            case None =>
              val dirs = manifest.lastKnownDirs(lostId).getOrElse(
                throw new IllegalStateException(
                  s"change feed under $root: batch $id collapsed batch " +
                    s"$lostId committed AFTER offset $from, and no claim " +
                    "tombstone records its directories — its rows exist " +
                    "only inside the rewrite. Re-bootstrap from a " +
                    "readCommitted snapshot, then restart the stream " +
                    "from a fresh checkpoint."))
              out ++= dirs
                .filter(d => d.startsWith(root + "/") && !Sinks.isDvDir(d))
                .flatMap { dir =>
                  val p = new HPath(dir)
                  val fs = p.getFileSystem(conf)
                  if (!fs.exists(p))
                    throw new IllegalStateException(
                      s"change feed under $root: collapsed batch " +
                        s"$lostId's directory $dir is no longer on disk " +
                        "(vacuumed) — the feed history this consumer " +
                        "needs is gone. Re-bootstrap from a readCommitted " +
                        "snapshot, then restart from a fresh checkpoint.")
                  parquetFiles(fs, p).toSeq.map(st =>
                    CdfFilePartition(st.getPath.toString, st.getLen,
                      st.getModificationTime, lostId, insertFile = true))
                }
          }
        }
      }
    byBatch.foreach { case (id, ds) =>
      if (!served(id)) {
        served += id
        handleMarker(id)
        val cdfDir = new HPath(s"$root/_cdf/batch=$id")
        val fs = cdfDir.getFileSystem(conf)
        sidecar(id) match {
          case Some(files) if files.nonEmpty =>
            out ++= files.map(st => CdfFilePartition(st.getPath.toString,
              st.getLen, st.getModificationTime, id, insertFile = false))
          case Some(_) =>
            throw new IllegalStateException(
              s"change feed under $root: batch $id is a merge committed " +
                "without change tracking (cdf = false) — its updates and " +
                "deletes were not recorded. Re-bootstrap from a snapshot, " +
                "or run merges with cdf = true on fed tables.")
          case None =>
            out ++= ds.filter(d => d.startsWith(root + "/") && !Sinks.isDvDir(d))
              .flatMap { dir =>
                val p = new HPath(dir)
                if (!fs.exists(p))
                  throw new IllegalStateException(
                    s"manifest-committed directory missing from the " +
                      s"filesystem: $dir — committed data was deleted out " +
                      "from under the manifest")
                parquetFiles(fs, p).toSeq.map(st =>
                  CdfFilePartition(st.getPath.toString, st.getLen,
                    st.getModificationTime, id, insertFile = true))
              }
        }
      }
    }
    out.result().toArray
  }

  /** Two parquet closures for the feed's two physical layouts; the
    * constant columns ride the partition-value mechanism. With a
    * schemaLog `mapping`, the data fields translate to their physical
    * file names (rows come back positionally identical, so only the
    * NAMES change — the DSv2 engine serves them under the logical
    * `readSchema()`); the `_change_type` column a `_cdf` sidecar
    * carries physically is a feed invariant, never mapped. */
  def cdfReaderFactory(spark: SparkSession, cdfSchema: StructType,
                       mapping: Option[Seq[SchemaLog.Col]] = None)
    : PartitionReaderFactory = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
    val logicalData = StructType(cdfSchema.fields.filterNot(f =>
      f.name == Sinks.ChangeTypeCol || f.name == "_commit_batch"))
    val dataSchema = mapping match {
      case None => logicalData
      case Some(cols) =>
        val toPhysical = cols.map(c => c.logical -> c).toMap
        StructType(logicalData.fields.map { f =>
          val c = toPhysical.getOrElse(f.name,
            throw new IllegalArgumentException(s"no mapping for ${f.name}"))
          f.copy(name = c.physical)
        })
    }
    val cdfFileSchema = StructType(dataSchema.fields :+
      StructField(Sinks.ChangeTypeCol, StringType))
    val fmt = new ParquetFileFormat()
    def build(data: StructType, parts: Seq[StructField]) =
      fmt.buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = data,
        partitionSchema = StructType(parts),
        requiredSchema = data,
        filters = Nil,
        options = Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    CdfReaderFactory(
      insertRead = build(dataSchema, Seq(
        StructField(Sinks.ChangeTypeCol, StringType),
        StructField("_commit_batch", IntegerType))),
      cdfRead = build(cdfFileSchema, Seq(
        StructField("_commit_batch", IntegerType))))
  }

  /** `schemaLog` option: resolve reads through a [[SchemaLog]] column
    * mapping (captured at scan/stream build — a rename mid-stream is
    * picked up on restart, the evolution point, as with Delta). */
  def mapping(options: CaseInsensitiveStringMap): Option[Seq[SchemaLog.Col]] =
    Option(options.get("schemaLog")).map { path =>
      val log = new SchemaLog(path)
      val (_, cols) = log.current()
      require(cols.nonEmpty, s"schema log $path is empty/uninitialized")
      cols
    }

  /** The table's merged schema: driver-side footers, memoized per
    * dir ([[Sinks.readDirs]]), with a `mergeSchema` job only when the
    * dirs disagree. Deletion-vector dirs are not data: their columns
    * stay out. */
  def mergedSchemaOpt(spark: SparkSession, root: String,
                      manifestPath: String): Option[StructType] = {
    val dirs = Sinks.splitDv(new TxnManifest(manifestPath).committedDirs(root))._1
    if (dirs.isEmpty) None
    else Some(Sinks.readDirs(spark, dirs, None).schema)
  }

  /** Pushed filters with attribute names translated logical →
    * physical through a column mapping, so stats / bloom / row-group
    * skipping hold on MAPPED tables too. A filter touching a name
    * without a mapping (or an unknown filter shape) is DROPPED, never
    * mistranslated — skipping is best-effort and Spark re-evaluates
    * every filter post-scan. */
  def translateFilters(pushed: Seq[Filter],
                       cols: Seq[SchemaLog.Col]): Seq[Filter] = {
    val m = cols.map(c => c.logical -> c.physical).toMap
    import org.apache.spark.sql.sources._
    def rename(f: Filter): Option[Filter] = f match {
      case EqualTo(a, v)            => m.get(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v)      => m.get(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v)        => m.get(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => m.get(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v)           => m.get(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v)    => m.get(a).map(LessThanOrEqual(_, v))
      case In(a, vs)                => m.get(a).map(In(_, vs))
      case IsNull(a)                => m.get(a).map(IsNull(_))
      case IsNotNull(a)             => m.get(a).map(IsNotNull(_))
      case StringStartsWith(a, v)   => m.get(a).map(StringStartsWith(_, v))
      case StringEndsWith(a, v)     => m.get(a).map(StringEndsWith(_, v))
      case StringContains(a, v)     => m.get(a).map(StringContains(_, v))
      case And(l, r) =>
        for { ll <- rename(l); rr <- rename(r) } yield And(ll, rr)
      case Or(l, r) =>
        for { ll <- rename(l); rr <- rename(r) } yield Or(ll, rr)
      case Not(c) => rename(c).map(Not(_))
      case _      => None
    }
    pushed.flatMap(rename(_).toSeq)
  }

  /** A V1 Filter as a boolean Column — the delete path's predicate
    * evaluation (SupportsDeleteV2 hands the table filters; the
    * key-extraction read evaluates them as a normal WHERE). None for
    * shapes with no Column twin: the caller must then refuse the
    * operation, never approximate it. */
  def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col => c, lit, not => notc}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(c(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(c(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v)           => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(c(a) <= lit(v))
      case In(a, vs)                => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(c(a).isNull)
      case IsNotNull(a)             => Some(c(a).isNotNull)
      case StringStartsWith(a, v)   => Some(c(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(c(a).endsWith(v))
      case StringContains(a, v)     => Some(c(a).contains(v))
      case And(l, r) =>
        for { ll <- filterColumn(l); rr <- filterColumn(r) } yield ll && rr
      case Or(l, r) =>
        for { ll <- filterColumn(l); rr <- filterColumn(r) } yield ll || rr
      case Not(x)          => filterColumn(x).map(notc)
      case AlwaysTrue()    => Some(lit(true))
      case AlwaysFalse()   => Some(lit(false))
      case _               => None
    }
  }

  /** True when the filter (or any branch of it) is a membership probe
    * a [[BloomIndex]] sidecar could answer — the gate that keeps
    * range-only scans from paying the bloom deserialization. */
  private def hasEqualityFilter(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: In => true
    case And(l, r) => hasEqualityFilter(l) || hasEqualityFilter(r)
    case Or(l, r)  => hasEqualityFilter(l) || hasEqualityFilter(r)
    case _         => false
  }

  /** Every parquet file committed for a batch id in `(from, to]`,
    * one [[InputPartition]] per file. Ids are sparse (watermark-
    * derived), so the range filters ids that EXIST — absent ids in the
    * range are normal, not data loss. Directories whose
    * [[BatchStats]] sidecar PROVABLY excludes every pushed filter are
    * skipped at plan time — manifest-level data skipping; dirs without
    * a sidecar are always read. */
  def partitionsFor(manifest: TxnManifest, root: String,
                    from: Int, to: Int,
                    pushed: Seq[Filter] = Nil): Array[InputPartition] = {
    val dirs = manifest.committed().toSeq
      .filter { case (id, _) => id > from && id <= to }
      .sortBy(_._1)
      .flatMap { case (_, ds) => ds.filter(_.startsWith(root + "/")) }
    partitionsForDirs(manifest, dirs, pushed)
  }

  /** [[partitionsFor]] over an EXPLICIT directory list — the planning
    * entry point for version/timestamp-addressed reads, whose dir set
    * comes from a claim tombstone rather than the live manifest. */
  /** Hard ceiling on driver-held DV positions: deletion vectors are
    * for SMALL deletes; past this, compaction is cheaper than every
    * scan paying the filter — fail with that advice, never OOM. */
  val MaxDvPositions: Int = 2000000

  private def pathKey(s: String): String = new HPath(s).toUri.getPath

  /** The planned dirs' deletion-vector positions, file → sorted
    * indices, loaded once per plan (driver-side; bounded by
    * [[MaxDvPositions]] with a loud compact-first failure). */
  private def dvPositionsByFile(dvDirs: Seq[String]): Map[String, Array[Long]] =
    if (dvDirs.isEmpty) Map.empty
    else {
      val rows = SparkSession.active.read.parquet(dvDirs: _*)
        .select(Sinks.DvFileCol, Sinks.DvPosCol)
        .limit(MaxDvPositions + 1).collect()
      require(rows.length <= MaxDvPositions,
        s"table carries more than $MaxDvPositions deletion-vector " +
          "positions — at that volume every scan pays more than a " +
          "rewrite would; run Sinks.compact (or OPTIMIZE) to " +
          "materialize the vectors first")
      rows.groupBy(r => pathKey(r.getString(0)))
        .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }
    }

  def partitionsForDirs(manifest: TxnManifest, allDirs: Seq[String],
                        pushed: Seq[Filter] = Nil): Array[InputPartition] = {
    // deletion vectors: _dv sidecar dirs never plan as data; their
    // positions ride the data files' partitions and the reader
    // filters them out (Sinks.applyDv semantics, DSv2-native)
    val (dirs, dvDirs) = Sinks.splitDv(allDirs)
    val dvByFile = dvPositionsByFile(dvDirs)
    def dvOf(filePath: String): Array[Long] =
      if (dvByFile.isEmpty) Array.empty[Long]
      else dvByFile.getOrElse(pathKey(filePath), Array.empty[Long])
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    // checkpointed dirs answer listing + stats from ONE rolled-up
    // file (committed dirs are immutable, so entries never go stale);
    // dirs committed after the checkpoint take the per-dir path below
    val ckpt = StatsCheckpoint.read(conf, manifest.path)
    // per-dir namespace work (existence probe; listing + sidecar
    // reads for un-checkpointed dirs) fans out over a bounded pool —
    // sequential round-trips would make PLANNING O(dirs) in latency
    // on a remote FS. Order stays deterministic (manifest order);
    // the loud missing-dir failure propagates unwrapped.
    val planned = parallelMap(dirs) { dir =>
      val p = new HPath(dir)
      val fc =
        if (p.toUri.getScheme == null) FileContext.getFileContext(conf)
        else FileContext.getFileContext(p.toUri, conf)
      // a manifest-committed dir that is GONE is data loss (bad vacuum,
      // manual delete) — fail loudly like Sinks.readCommitted does,
      // instead of silently serving an empty batch. Deliberately NOT
      // answered from the checkpoint: the probe is one namespace op
      // and is exactly the freshness the checkpoint cannot carry.
      if (!fc.util().exists(p))
        throw new IllegalStateException(
          s"manifest-committed directory missing from the filesystem: $dir — " +
            "committed data was deleted out from under the manifest")
      // bloom sidecars answer the equality probes min/max cannot
      // (high-cardinality ids whose range spans every file); the
      // sidecar deserializes real bits, so only touch it when an
      // equality-shaped filter was actually pushed
      val blooms =
        if (pushed.exists(hasEqualityFilter)) BloomIndex.read(conf, dir)
        else None
      ckpt.flatMap(_.get(dir)) match {
        case Some(entry) =>
          val stats = if (pushed.isEmpty) None else entry.stats
          entry.files
            .filter { case (n, _, _) =>
              stats.flatMap(_.get(n))
                .forall(BatchStats.mayMatch(_, pushed)) &&
              blooms.flatMap(_.get(n))
                .forall(BloomIndex.mayMatch(_, pushed))
            }
            .map { case (n, len, mtime) =>
              ManifestFilePartition(s"$dir/$n", len, mtime,
                dvOf(s"$dir/$n"))
            }
        case None =>
          // PER-FILE skipping: a file whose sidecar bounds provably
          // exclude the pushed conjunction never becomes a partition —
          // after a z-ordered compaction this prunes on either
          // clustered column; files absent from the sidecar (or no
          // sidecar) read
          val stats =
            if (pushed.isEmpty) None else BatchStats.read(conf, dir)
          fc.util().listStatus(p).toSeq
            .filter { st =>
              val n = st.getPath.getName
              // hidden files (crashed attempts' temps, metadata)
              // excluded, matching Hadoop's input-listing convention
              st.isFile && n.endsWith(".parquet") &&
                !n.startsWith(".") && !n.startsWith("_") &&
                stats.flatMap(_.get(n))
                  .forall(BatchStats.mayMatch(_, pushed)) &&
                blooms.flatMap(_.get(n))
                  .forall(BloomIndex.mayMatch(_, pushed))
            }
            .map(st => ManifestFilePartition(st.getPath.toString, st.getLen,
              st.getModificationTime, dvOf(st.getPath.toString)))
      }
    }
    planned.flatten.toArray
  }

  /** Shared daemon pool for driver-side namespace fan-out: planning
    * runs once per micro-batch under streaming, so a per-plan pool
    * would churn 16 threads per batch. Daemon threads never block
    * JVM exit; the pool is safe to share because the per-dir bodies
    * are independent and never submit nested work. */
  private lazy val namespacePool =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-plan-ns-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** Order-preserving bounded-parallel map for driver-side namespace
    * fan-out; exceptions from the body (the loud data-loss failure)
    * propagate unwrapped. */
  private[sources] def parallelMap[A, B](in: Seq[A])(f: A => B): Seq[B] =
    if (in.size <= 1) in.map(f)
    else {
      val futures = in.map(a =>
        namespacePool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(a)
        }))
      futures.map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    }

  /** [[readerFactory]] with an optional column mapping: logical
    * schemas translate to their physical twins for the parquet reader
    * — rows come back positionally identical, so only the NAMES
    * change, and the DSv2 engine consumes them under `readSchema()`'s
    * logical names. Filters translate through the same mapping
    * ([[translateFilters]]) so parquet row-group/page skipping holds
    * on mapped tables too; an untranslatable filter is dropped, never
    * mistranslated (Spark re-evaluates every filter post-scan). */
  def mappedReaderFactory(spark: SparkSession, dataSchema: StructType,
                          required: StructType, pushed: Array[Filter],
                          mapping: Option[Seq[SchemaLog.Col]],
                          allowColumnar: Boolean = true): PartitionReaderFactory =
    mapping match {
      case None =>
        readerFactory(spark, dataSchema, required, pushed, allowColumnar)
      case Some(cols) =>
        val toPhysical = cols.map(c => c.logical -> c).toMap
        def physical(s: StructType): StructType = StructType(s.fields.map { f =>
          val c = toPhysical.getOrElse(f.name,
            throw new IllegalArgumentException(s"no mapping for ${f.name}"))
          f.copy(name = c.physical)
        })
        readerFactory(spark, physical(dataSchema), physical(required),
          translateFilters(pushed.toSeq, cols).toArray, allowColumnar)
    }

  /** Driver-side build of Spark's parquet decode closure; serialized
    * into [[ManifestReaderFactory]] for the executors (the closure is
    * designed for exactly that — it broadcasts its Hadoop conf).
    * When `supportBatch` holds for the projection (atomic columns,
    * vectorized reader enabled) the closure returns ColumnarBatches
    * and the factory advertises columnar reads — the scan then runs
    * the same vectorized end-to-end path as the built-in source. */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
                    required: StructType,
                    pushed: Array[Filter],
                    allowColumnar: Boolean = true): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat()
    val columnar = allowColumnar && fmt.supportBatch(spark, required)
    // DV-carrying files decode through a SECOND closure whose required
    // schema appends parquet's native row-index generator column
    // (ROW_INDEX_TEMPORARY_COLUMN_NAME) — indices stay correct under
    // row-group/page skipping because the READER generates them, then
    // the factory drops deleted positions and projects the column away
    val rowIdx = org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType)
    val dvRead = fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = StructType(required.fields :+ rowIdx),
      filters = pushed.toSeq,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    ManifestReaderFactory(fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = required,
      filters = pushed.toSeq,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> columnar.toString),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)),
      columnar, dvRead, required)
  }
}
